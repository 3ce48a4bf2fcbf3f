"""Data-quality suite compiler: Great-Expectations-style JSON suites ->
native Spark checks.

The reference runs its suites through the GE library's
SparkDFExecutionEngine (/root/reference/src/main/utility/
data_validator.py:54-127, suites under /root/reference/gx/expectations/).
This engine compiles the SAME suite JSON into plain Spark expressions —
no dependency, and all row-level expectations for a table evaluate in a
SINGLE aggregation pass (the reference runs one GE validation per
expectation; at 100 TB that's N scans vs our 1 + one extra shuffle only
when uniqueness checks are present).

Expectation types covered (the complete set the reference uses, SURVEY
§2.9):
 - expect_table_columns_to_match_set      -> schema comparison (driver)
 - expect_column_values_to_not_be_null    -> count(col IS NULL)
 - expect_column_values_to_be_between     -> count(NOT between)
 - expect_column_values_to_match_regex    -> count(NOT rlike)
 - expect_column_values_to_be_unique      -> groupBy(col) HAVING n>1

Policy: bronze warns, silver raises (data_validator.py:221-261) —
implemented by the caller via ``ValidationReport.passed``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROW_LEVEL_TYPES = {
    "expect_column_values_to_not_be_null",
    "expect_column_values_to_be_between",
    "expect_column_values_to_match_regex",
}


@dataclass
class RuleResult:
    rule: str
    column: str | None
    violations: int
    passed: bool
    detail: str = ""


@dataclass
class ValidationReport:
    suite_name: str
    results: list[RuleResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)

    def failures(self) -> list[RuleResult]:
        return [r for r in self.results if not r.passed]


def load_suite(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def violation_expr(expectation: dict) -> Column | None:
    """Row-level violation predicate (True = row violates) for one
    expectation, or None for table-level expectations."""
    etype = expectation["expectation_type"]
    kwargs = expectation.get("kwargs", {})
    col = kwargs.get("column")
    if etype == "expect_column_values_to_not_be_null":
        return F.col(col).isNull()
    if etype == "expect_column_values_to_be_between":
        lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < F.lit(lo))
        if hi is not None:
            cond = cond | (F.col(col) > F.lit(hi))
        # GE semantics: NULLs are not "between" violations
        return F.col(col).isNotNull() & cond
    if etype == "expect_column_values_to_match_regex":
        return F.col(col).isNotNull() & ~F.col(col).rlike(kwargs["regex"])
    return None


def violation_counts(expectations: list[dict]) -> list[tuple]:
    """(rule, column, aggregate counting the rows that violate it) per
    row-level expectation, in suite order; the count is NULL over no
    rows. One ``df.agg`` of them all is the whole row-level pass."""
    return [
        (exp["expectation_type"], exp.get("kwargs", {}).get("column"),
         F.sum(F.when(violation_expr(exp), 1).otherwise(0)))
        for exp in expectations
        if exp["expectation_type"] in ROW_LEVEL_TYPES
    ]


def run_suite(df: DataFrame, suite: dict) -> ValidationReport:
    """Evaluate a suite: one aggregate pass for all row-level rules, one
    grouped pass per uniqueness rule, schema rules on the driver."""
    report = ValidationReport(suite.get("expectation_suite_name", "suite"))
    expectations = suite.get("expectations", [])

    for exp in expectations:
        etype = exp["expectation_type"]
        kwargs = exp.get("kwargs", {})
        if etype == "expect_table_columns_to_match_set":
            expected = set(kwargs.get("column_set", []))
            actual = set(df.columns)
            report.results.append(
                RuleResult(
                    rule=etype,
                    column=None,
                    violations=len(expected ^ actual),
                    passed=expected == actual,
                    detail=f"missing={sorted(expected - actual)} "
                    f"unexpected={sorted(actual - expected)}",
                )
            )

    counts = violation_counts(expectations)
    if counts:
        row = df.agg(
            *[agg.alias(f"v{i}") for i, (_, _, agg) in enumerate(counts)]
        ).collect()[0]
        for (etype, col, _), v in zip(counts, row):
            n = int(v or 0)
            report.results.append(
                RuleResult(rule=etype, column=col, violations=n, passed=n == 0)
            )

    for exp in expectations:
        if exp["expectation_type"] == "expect_column_values_to_be_unique":
            col = exp["kwargs"]["column"]
            dup = (
                df.filter(F.col(col).isNotNull())
                .groupBy(col)
                .count()
                .filter(F.col("count") > 1)
                .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)))
                .collect()[0][0]
            )
            n = int(dup)
            report.results.append(
                RuleResult(
                    rule="expect_column_values_to_be_unique",
                    column=col,
                    violations=n,
                    passed=n == 0,
                )
            )
    return report


def violation_summary_df(df: DataFrame, suite: dict) -> DataFrame:
    """Row-level rule violations as a DataFrame (rule, column_name,
    violations) — the query-surface form of run_suite: the same single
    aggregate pass, one row per rule (used by the quality_suite_checks
    catalog query)."""
    counts = violation_counts(suite.get("expectations", []))
    if not counts:
        raise ValueError("suite has no row-level expectations")
    rows = F.array(*[
        F.struct(
            F.lit(rule).alias("rule"),
            F.lit(col).alias("column_name"),
            agg.cast("long").alias("violations"),
        )
        for rule, col, agg in counts
    ])
    return df.agg(rows.alias("r")).select(F.inline("r"))
