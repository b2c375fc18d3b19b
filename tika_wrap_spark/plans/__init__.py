"""Physical-plan inspection utilities.

The 100 TB scale claims in SURVEY.md §4.2 are properties of the *physical
plan* — filters reaching the scan, small sides broadcast, aggregates
partial-then-final, Python confined to Arrow-vectorized nodes. These
helpers read the formatted plan so tests can assert those properties
instead of narrating them (tests/test_plans.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text of ``df``'s physical plan."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    jvm = df.sparkSession._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(plan: str) -> list[str]:
    """All PushedFilters entries across scans in a formatted plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        inner = m.group(1).strip()
        if inner:
            out.extend(p.strip() for p in inner.split(","))
    return out


def read_schema_columns(plan: str) -> list[set[str]]:
    """Column-name sets of each scan's ReadSchema (column-pruning check)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {
            f.split(":")[0].strip() for f in m.group(1).split(",") if ":" in f
        }
        out.append(cols)
    return out


def count_node(plan: str, node: str) -> int:
    """Occurrences of a physical node in a *formatted* plan, counted via the
    detail headers ``(N) NodeName`` so each node is counted exactly once
    (the tree rendering above repeats every node name)."""
    return len(re.findall(r"(?m)^\(\d+\) %s\b" % re.escape(node), plan))


def has_node(plan: str, node: str) -> bool:
    return count_node(plan, node) > 0


def python_eval_nodes(plan: str) -> list[str]:
    """Python-execution nodes present in the plan. ``BatchEvalPython`` is the
    per-row slow path (banned by input_hint); ``ArrowEvalPython`` /
    ``MapInPandas`` / ``FlatMapGroupsInPandas`` are the vectorized ones."""
    nodes = []
    for name in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    ):
        if name in plan:
            nodes.append(name)
    return nodes
