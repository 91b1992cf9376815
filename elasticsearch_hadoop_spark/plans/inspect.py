"""Physical-plan inspection helpers (the `.explain("formatted")` toolkit).

The corpus docstrings make scale promises — "filters reach the scan",
"dims broadcast", "one shuffle" — and tests/test_plans.py pins them with
these helpers. They are also useful interactively: a quick
``count_nodes(formatted_plan(df), "Exchange")`` answers "would this plan
survive a 100× scale-up" faster than reading the whole explain output.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`df.explain("formatted")` as a string (Spark only prints it)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


JOIN_NODES = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)


def count_nodes(plan: str, *nodes: str) -> int:
    """Count physical operators named any of ``nodes`` ("Exchange",
    "BroadcastExchange", "BroadcastHashJoin", ...) in a formatted plan."""
    names = "|".join(nodes)
    return len(re.findall(rf"^\(\d+\) (?:{names})\b", plan, flags=re.M))


def join_strategies(plan: str) -> list[str]:
    """The join operators the plan uses, sorted."""
    return [j for j in sorted(JOIN_NODES) if count_nodes(plan, j)]


def pushed_filters(plan: str) -> list[str]:
    """Every non-empty `PushedFilters: [...]` payload from the plan's scans."""
    return [p.strip() for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]


def read_schemas(plan: str) -> list[str]:
    """Every scan's `ReadSchema: ...` payload, in plan order."""
    return re.findall(r"ReadSchema: (\S+)", plan)


def read_schema_columns(plan: str) -> set[str]:
    """Column names the (first) scan actually reads — column-pruning probe."""
    m = re.match(r"struct<([^>]*)>", (read_schemas(plan) or [""])[0])
    if not m:
        return set()
    return {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}


def codegen_stages(text: str) -> int:
    """How many whole-stage-codegen subtrees `explain("codegen")` text
    reports (its `Found N WholeStageCodegen subtrees` line); 0 if none."""
    m = re.search(r"Found (\d+) WholeStageCodegen", text)
    return int(m.group(1)) if m else 0


def complex_output_cols(schema) -> list[str]:
    """Columns whose type would hit the correctness driver's raw-array
    serialization trap (round-1 agg_collect_set failure): the value hash is
    only stable for scalar columns, so corpus queries must serialize
    arrays/maps/structs (array_join / to_json) before returning.  Shared by
    tests/oracle_harness.py and tools/sweep_output_types.py — one predicate,
    one place."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
