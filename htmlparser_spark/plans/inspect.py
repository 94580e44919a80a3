"""Extract PushedFilters / ReadSchema / codegen facts from query plans."""

from __future__ import annotations

import re
from typing import Dict, List

from pyspark.sql import DataFrame

__all__ = [
    "explain_string", "scan_info", "assert_pushed_filter",
    "assert_read_schema_only", "codegen_stage_count",
    "assert_no_python_row_udf",
]


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` would print, as a string."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def scan_info(df: DataFrame) -> List[Dict[str, str]]:
    """One dict per file scan in the plan:
    {location, read_schema, pushed_filters, partition_filters}."""
    text = explain_string(df, "formatted")
    scans: List[Dict[str, str]] = []
    cur: Dict[str, str] = {}
    in_scan = False
    for line in text.splitlines():
        if re.match(r"\(\d+\) Scan ", line):
            if cur:
                scans.append(cur)
            cur, in_scan = {"scan": line.strip()}, True
            continue
        if in_scan:
            m = re.match(r"(Location|ReadSchema|PushedFilters|"
                         r"PartitionFilters|DataFilters): (.*)", line.strip())
            if m:
                cur[m.group(1)] = m.group(2)
            elif re.match(r"\(\d+\) ", line):  # next node
                scans.append(cur)
                cur, in_scan = {}, False
    if cur:
        scans.append(cur)
    return scans


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert some scan's PushedFilters mentions ``fragment``."""
    infos = scan_info(df)
    pushed = " | ".join(i.get("PushedFilters", "") for i in infos)
    assert fragment in pushed, (
        f"filter {fragment!r} not pushed to any scan; "
        f"PushedFilters were: {pushed!r}")


def assert_read_schema_only(df: DataFrame, allowed: List[str]) -> None:
    """Assert every scan reads a subset of ``allowed`` columns —
    column pruning reached the reader (a scan fetching all columns for
    a 2-column projection is a 50x I/O bug at 100 TB)."""
    for info in scan_info(df):
        schema = info.get("ReadSchema", "")
        cols = re.findall(r"(\w+):", schema)
        extra = [c for c in cols if c not in allowed]
        assert not extra, (
            f"scan reads unpruned columns {extra}; ReadSchema={schema!r}")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans in the physical plan.

    Caveat: with AQE enabled, a not-yet-executed plan shows NO codegen
    annotations (``isFinalPlan=false``) and this returns 0 — build the
    DataFrame with ``spark.sql.adaptive.enabled=false`` (or execute it
    first) before counting."""
    spans = set(re.findall(r"WholeStageCodegen \((\d+)\)",
                           explain_string(df, "formatted")))
    spans |= set(re.findall(r"\*\((\d+)\)", explain_string(df, "simple")))
    spans |= set(re.findall(r"\[codegen id : (\d+)\]",
                            explain_string(df, "formatted")))
    return len(spans)


def assert_no_python_row_udf(df: DataFrame) -> None:
    """Assert the plan contains no row-at-a-time Python UDF
    (BatchEvalPython). Arrow-batch ops (ArrowEvalPython / MapInArrow /
    MapInPandas / FlatMapGroupsInPandas) are the allowed Python surface
    — contract from BASELINE.json input_hint ("no per-row Python")."""
    text = explain_string(df, "extended")
    assert "BatchEvalPython" not in text, (
        "plan contains a row-at-a-time Python UDF (BatchEvalPython)")
