"""Physical-plan introspection helpers.

The optimizations the reference hand-codes (predicate pushdown, column
pruning, dimension broadcast — SURVEY.md §4) are Catalyst's job here; these
helpers make them *assertable* so a regression that silently de-optimizes a
plan (a lost pushdown, a broadcast that became a sort-merge join) fails
tests instead of shipping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan (post-AQE initial plan) as a string."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def query_frames(build) -> list[DataFrame]:
    """``build()``'s frame plus every frame it ``localCheckpoint``ed on
    the way.  A checkpoint cuts the lineage, so the stages of those eager
    jobs appear only in the recorded frames' plans, never in the
    returned frame's."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    seen: list[DataFrame] = []
    orig = ClassicFrame.localCheckpoint

    def record(self, *args, **kwargs):
        seen.append(self)
        return orig(self, *args, **kwargs)

    ClassicFrame.localCheckpoint = record
    try:
        df = build()
    finally:
        ClassicFrame.localCheckpoint = orig
    return [df, *seen]


def executed_plan(df: DataFrame) -> str:
    """Plan string AFTER execution — under AQE the final plan (with
    WholeStageCodegen annotations and materialized query stages) only exists
    once the query has run.  Must collect() THIS DataFrame — count() would
    build (and execute) a different QueryExecution."""
    df.collect()
    return physical_plan(df)


def plan_has(df: DataFrame, *needles: str, absent: tuple[str, ...] = ()) -> list[str]:
    """Return the list of violations: needles missing from the plan or
    forbidden fragments present."""
    plan = physical_plan(df)
    problems = [f"missing: {n}" for n in needles if n not in plan]
    problems += [f"forbidden present: {a}" for a in absent if a in plan]
    return problems


def scan_read_schema(df: DataFrame, table_hint: str | None = None) -> list[str]:
    """Column names in the parquet scan's ReadSchema — verifies pruning."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return cols


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters entries from every scan in the plan."""
    plan = physical_plan(df)
    return " | ".join(m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan))


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Global (empty-partitionSpec) Window nodes whose input subtree has NO
    Aggregate / LocalRelation / Limit bound — the single-partition windows
    SCALE.md forbids.  The documented-safe shapes (rolling series over a
    daily aggregate, CDF over histogram bins, quota rank over source
    counts) all sit above an Aggregate, so they pass; a window slipped
    onto raw rows does not (round-5 verdict #7: assert the bound instead
    of letting expected WindowExec warnings camouflage regressions)."""
    bad: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "Window" and node.partitionSpec().isEmpty():
            if not _has_bound(node):
                bad.append(node.toString().splitlines()[0][:200])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


_BOUNDED = {"Aggregate", "LocalRelation", "OneRowRelation", "GlobalLimit",
            "LocalLimit", "Range"}


def _has_bound(node) -> bool:
    """True iff the subtree's row count is bounded by an Aggregate / Limit /
    literal relation on EVERY input path.  Requiring ALL children bounded
    (not any) is what makes multi-child nodes sound: ``corpus JOIN
    small-aggregate`` is still O(corpus) rows, and the old any-descendant
    rule let the aggregate side vouch for the whole join (ADVICE r6) —
    exactly the regression class this checker exists to catch.  Single-child
    nodes (Project/Filter/...) pass the bound through unchanged."""
    if node.getClass().getSimpleName() in _BOUNDED:
        return True
    kids = node.children()
    if kids.size() == 0:
        return False
    return all(_has_bound(kids.apply(i)) for i in range(kids.size()))


def single_key_unbounded_sort_windows(df: DataFrame) -> list[str]:
    """Window nodes partitioned by a SINGLE expression with an ORDER BY,
    whose input subtree has no Aggregate/Limit bound — the per-group
    single-task fact sort (parallelism == group count) that SCALE.md
    forbids for few-huge-groups shapes (round-6 verdict #1: q102's
    ``Window.partitionBy(event_type).orderBy(value)`` over the raw fact
    scan).  The distributed-median machinery's windows pass: its
    cumulative-bucket window sits above an Aggregate, and its hot-bucket
    window partitions by (group, rank) — two expressions over a
    bucket-bounded slice."""
    bad: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if (
            name == "Window"
            and node.partitionSpec().size() == 1
            and not node.orderSpec().isEmpty()
            and not _has_bound(node)
        ):
            bad.append(node.toString().splitlines()[0][:200])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad
