"""Declarative data-quality checks (SURVEY.md §2.11).

Re-expresses the reference's Great Expectations suite
(data_validation/gx/expectations/validate_trip_data.json:5-92 — 10 not-null
+ 2 between expectations) as engine-owned rules with no GX dependency.

Scale design: ALL rules evaluate in ONE pass as conditional aggregates
(`sum(case when violated then 1 end)`), instead of GX's query-per-expectation
— at 100 TB that is one scan vs twelve.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named predicate; `violated` is the Column that is true on bad rows."""

    name: str
    violated: Column


def not_null_rule(col: str) -> Rule:
    return Rule(name=f"{col}_not_null", violated=F.col(col).isNull())


def between_rule(col: str, lo, hi) -> Rule:
    """Range expectation. Matches GX semantics: nulls are the not-null
    rule's business, not a range violation."""
    return Rule(
        name=f"{col}_between_{lo}_{hi}",
        violated=F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
    )


def violations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """One-pass violation counts: (rule string, violations long)."""
    aggs = [
        # coalesce: sum over an EMPTY frame is null, and "no rows" means
        # zero violations, not unknown
        F.coalesce(F.sum(F.when(r.violated, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(r.name)
        for r in rules
    ]
    wide = df.agg(*aggs)
    # unpivot to (rule, violations) — stack stays in one stage
    stack_expr = ", ".join(f"'{r.name}', `{r.name}`" for r in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_expr}) as (rule, violations)"
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, fk: str, pk: str, name: str
) -> DataFrame:
    """Orphan-FK count as (rule, violations): child rows whose fk has no
    parent pk. left_anti join — one shuffle, no row materialization."""
    orphans = child.select(F.col(fk)).join(
        parent.select(F.col(pk)), child[fk] == parent[pk], "left_anti"
    )
    return orphans.agg(
        F.lit(name).alias("rule"), F.count(F.lit(1)).cast("long").alias("violations")
    )


def uniqueness_violations(df: DataFrame, col: str, name: str | None = None) -> DataFrame:
    """Duplicate-key count as (rule, violations): number of key values that
    appear more than once (the dbt `unique` test, SURVEY.md §5.2)."""
    dupes = (
        df.groupBy(F.col(col))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return dupes.agg(
        F.lit(name or f"{col}_unique").alias("rule"),
        F.count(F.lit(1)).cast("long").alias("violations"),
    )


def check(df: DataFrame, rules: list[Rule]) -> dict[str, int]:
    """Eager evaluation → {rule: violation_count}. The test-harness entry
    point (replaces GX checkpoint runs)."""
    row = violations(df, rules).collect()
    return {r["rule"]: r["violations"] for r in row}


def expect(df: DataFrame, rules: list[Rule]) -> None:
    """Assert-style gate: raises with the failing rules and counts."""
    results = check(df, rules)
    failed = {k: v for k, v in results.items() if v != 0}
    if failed:
        raise AssertionError(f"data-quality expectations failed: {failed}")


def observe_quality(df: DataFrame, rules: list[Rule]):
    """Attach the rule suite to the frame as `df.observe()` metrics:
    violation counts ride along with whatever action the caller already
    runs (the production write, a count) — ZERO extra scans, where
    `check()` runs a dedicated aggregation job and the reference's GX
    suite runs one query per expectation. Returns (observed_df, obs);
    read `obs.get` after the action completes.

    The 100 TB posture: quality gating becomes free telemetry on the
    write instead of doubling the pipeline's scan bill. Aggregate-level
    rules (unique) still need their own aggregation — same contract as
    `check()`."""
    from pyspark.sql import Observation

    obs = Observation()
    aggs = [F.count(F.lit(1)).cast("long").alias("observed_rows")] + [
        F.coalesce(F.sum(F.when(r.violated, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(r.name)
        for r in rules
    ]
    return df.observe(obs, *aggs), obs
