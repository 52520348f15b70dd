"""Physical-plan inspection — the engine's scale-contract toolkit.

The reference exposes execution plans via Flink's ``env.getExecutionPlan()``
/ the SQL client's EXPLAIN; Spark's equivalent is ``df.explain`` plus the
``queryExecution`` object. These helpers turn plan text into assertable
facts so the 100 TB contract (filters pushed to scans, small dims
broadcast, top-k without global sort, codegen coverage) is executable —
tests/test_plans.py is built on them, and operators can self-audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, execute: bool = False) -> str:
    """The physical plan as text. ``execute=True`` runs the query first so
    AQE finalizes its runtime re-plan (and codegen stage ids appear)."""
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    """The Catalyst-optimized logical plan as text."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The ``PushedFilters: [...]`` clause of the first file scan ('' if
    the plan has none) — a filter that appears here is evaluated inside
    the parquet reader, not after it."""
    p = executed_plan(df)
    if "PushedFilters:" not in p:
        return ""
    return p.split("PushedFilters:")[1].splitlines()[0].strip()


def read_schema(df: DataFrame) -> str:
    """The ``ReadSchema`` clause of the first file scan — what the scan
    actually reads off disk (column pruning made visible)."""
    p = executed_plan(df)
    if "ReadSchema:" not in p:
        return ""
    return p.split("ReadSchema:")[1].splitlines()[0].strip()


def exchange_count(df: DataFrame, execute: bool = False) -> int:
    """Number of shuffle/broadcast exchanges in the physical plan — the
    scale metric that matters most: every hash exchange is a full
    re-partitioning of its input."""
    return executed_plan(df, execute=execute).count("Exchange")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def codegen_stage_count(df: DataFrame, execute: bool = True) -> int:
    """Whole-stage-codegen span count after execution (AQE final plan).
    Wider spans = more of the query compiled into single JVM loops."""
    return executed_plan(df, execute=execute).count("WholeStageCodegen")


def codegen(df: DataFrame) -> str:
    """The Java source of every whole-stage-codegen span, as Spark's
    ``debug.codegenString`` prints it. Where a per-row expression is
    evaluated relative to a stage's loops shows only here, not in the
    plan text. Runs the query first: under AQE the spans exist only once
    its stages are built."""
    df.collect()
    debug = df.sparkSession._jvm.org.apache.spark.sql.execution.debug.package
    return debug.codegenString(df._jdf.queryExecution().executedPlan())
