"""Inspect executed/optimized plans via ``explain`` text.

These helpers parse the formatted explain output — the same thing a
human reads — so they work on any Spark ≥3.4 without private APIs.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from typing import List

from pyspark.sql import DataFrame

__all__ = [
    "explain_str",
    "has_python_eval",
    "pushed_filters",
    "read_schema_columns",
    "find_global_windows",
]

_PYTHON_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain(mode)`` captured as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_python_eval(df: DataFrame, allow_pandas: bool = False) -> bool:
    """True if the physical plan crosses into Python evaluation.

    Core operators must keep this False (the no-UDF rule,
    reference ``README.md:18``); extension operators may legitimately use
    Arrow-batched pandas nodes (``allow_pandas=True`` ignores those).
    """
    plan = explain_str(df)
    nodes = _PYTHON_EVAL_NODES if not allow_pandas else ("BatchEvalPython",)
    return any(n in plan for n in nodes)


def pushed_filters(df: DataFrame) -> List[str]:
    """The ``PushedFilters`` entries of every scan in the plan."""
    plan = explain_str(df)
    out: List[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> List[str]:
    """Column names each parquet scan actually reads (``ReadSchema``)."""
    plan = explain_str(df)
    cols: List[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.append(field.split(":")[0].strip())
    return cols


def find_global_windows(df: DataFrame) -> List[str]:
    """Window nodes executed on a single partition (the scale hazard
    SURVEY §4 flags). Returns the matching plan lines so tests/benches
    can assert or warn.

    Detection: an ``Exchange SinglePartition`` whose consumer (a nearby
    ancestor line in the plan tree) is a ``Window`` or ``WindowGroupLimit``
    node. A single-partition exchange feeding a *final aggregate* (a few
    partial-agg rows) is benign and deliberately not flagged.
    """
    lines = explain_str(df, mode="simple").splitlines()
    hits: List[str] = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        for j in range(max(0, i - 3), i):
            if re.search(r"\bWindow(GroupLimit)?\b", lines[j]):
                hits.append(lines[j].strip())
                break
    return hits
