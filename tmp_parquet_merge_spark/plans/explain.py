"""Physical-plan introspection — the engine's scale-assurance tooling.

The reference exposes storage-level knobs (column projection, row-group
skipping); in Spark those are Catalyst behaviors visible only in the
physical plan.  These helpers make them assertable in tests so a
regression that un-pushes a filter or de-broadcasts a dim join fails CI
instead of melting a 1000-executor cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_tree(df: DataFrame) -> str:
    """Just the operator tree of the formatted plan (each physical
    operator appears exactly once — count nodes here, not in the full
    formatted output, which repeats each operator in its detail block)."""
    return formatted_plan(df).split("\n\n", 1)[0]


def executes_before(df: DataFrame, first: str, second: str) -> bool:
    """True if some ``first`` operator runs before (deeper in the tree
    than) the outermost ``second``.  The formatted tree prints parents
    first, so executing earlier means appearing LATER in the text;
    ``rfind`` picks the deepest occurrence of ``first`` (an operator
    like WindowGroupLimit can legitimately appear on both sides of an
    exchange — partial + final)."""
    tree = plan_tree(df)
    i, j = tree.rfind(first), tree.find(second)
    return i >= 0 and j >= 0 and i > j


def codegen_plan(df: DataFrame) -> str:
    """Codegen-mode explain ("Found N WholeStageCodegen subtrees") —
    the reliable codegen probe under AQE, which hides codegen spans in
    simple/formatted output until the final plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the Parquet scan (PushedFilters: [...])."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from Parquet (ReadSchema) — column-pruning
    proof, the analog of the reference's ordinal projection."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        body = m.group(1)
        cols.extend(p.split(":")[0].strip() for p in body.split(",") if p.strip())
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)
