"""Helpers to read properties off a DataFrame's physical plan."""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (instead of printed to stdout)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning check)."""
    text = explain_str(df)
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        scans.append(cols)
    return scans


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def wholestage_codegen_ids(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans.

    NOTE: with AQE, codegen annotations only appear once the plan is final —
    run an action on ``df`` first, then call this.  >0 means the hot path is
    codegen'd; operators outside any span run interpreted."""
    text = explain_str(df)
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    ids |= set(re.findall(r"codegen id : (\d+)", text))
    return len(ids)


def codegen_operator_count(df: DataFrame) -> int:
    """Number of codegen'd operators (starred in simple-mode explain).
    Requires an executed plan under AQE, like `wholestage_codegen_ids`."""
    return len(re.findall(r"\*\(\d+\)", explain_str(df, "simple")))


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "PythonMapInArrow")


class PlanShape(NamedTuple):
    exchanges: int
    joins: list[str]
    python_nodes: list[str]


def plan_shape(text: str) -> PlanShape:
    """Exchange count, join operators and Python-boundary nodes of a
    ``formatted`` explain string.

    Formatted output prints every node twice, once in the tree and once as
    a numbered detail, and ``ReusedExchange`` contains "Exchange"; so only
    the numbered ``Exchange``/``BroadcastExchange`` headers are counted."""
    n_ex = len(re.findall(r"^\(\d+\) (?:Exchange|BroadcastExchange)", text, re.MULTILINE))
    joins = sorted({j for j in _JOINS if f"{j} " in text or f"{j}(" in text})
    py = sorted({p for p in _PYTHON_NODES if p in text})
    return PlanShape(n_ex, joins, py)
