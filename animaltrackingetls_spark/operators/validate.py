"""Declarative data-validation rules → violations report.

The pre-load quality gate (Great-Expectations-shaped, engine-native):
each rule is a boolean *violation* expression; the whole rule set is
evaluated in ONE aggregation pass over the table — conditional sums
with map-side partial combine, so a 100-rule suite costs the same scan
as one rule. Key-uniqueness is the only rule that genuinely needs a
shuffle (a hash aggregation on the key).

The reference enforces data quality operationally (CI log-greps and the
rejected-row gate, SURVEY.md §5); this is that idea as a first-class,
composable operator whose output is a table you can alert on, join to
the inventory, or trend over runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .joins import attach_scalar


@dataclass(frozen=True)
class Rule:
    """A named violation predicate: rows where ``violation`` is TRUE
    fail the rule. NULL predicate results count as violations for
    value-shaped rules built by the helpers below (explicit, not
    accidental: ``in_range(NULL)`` is a missing value, not a pass)."""

    name: str
    violation: Column


def not_null(col: str) -> Rule:
    return Rule(f"{col}:not_null", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Rule:
    ok = F.col(col).isNotNull() & (F.col(col) >= lo) & (F.col(col) <= hi)
    return Rule(f"{col}:in_range", ~ok)


def in_set(col: str, values: list) -> Rule:
    ok = F.col(col).isin(values)
    return Rule(f"{col}:in_set", ~F.coalesce(ok, F.lit(False)))


def matches(col: str, pattern: str) -> Rule:
    ok = F.col(col).rlike(pattern)
    return Rule(f"{col}:matches", ~F.coalesce(ok, F.lit(False)))


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, n_violations, n_rows) — the whole rule set in one scan,
    one global aggregate (conditional sums, partial+final)."""
    if not rules:
        raise ValueError("validate() needs at least one rule")
    aggs = [
        F.sum(F.when(r.violation, 1).otherwise(0)).cast("long").alias(r.name)
        for r in rules
    ] + [F.count(F.lit(1)).alias("_n_rows")]
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{r.name}', `{r.name}`" for r in rules)
    return row.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)", "_n_rows"
    ).select("rule", "n_violations", F.col("_n_rows").alias("n_rows"))


def unique_violations(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(rule, n_violations, n_rows) for key uniqueness: n_violations =
    rows carrying a duplicated key (total rows in >1-sized key groups).
    One hash aggregation on the key; the tiny two-row reduce after it is
    constant-size."""
    name = ",".join(key_cols) + ":unique"
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_c"))
    return per_key.agg(
        # coalesce: SUM over zero groups is NULL, but an empty table has
        # 0 violations/rows — keep the report's arithmetic NULL-free,
        # matching validate()'s counts
        F.coalesce(
            F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_rows"),
    ).select(F.lit(name).alias("rule"), "n_violations", "n_rows")


def validation_report(
    df: DataFrame, rules: list[Rule], unique_keys: list[list[str]] | None = None
) -> DataFrame:
    """Full report: value rules (one scan) + uniqueness rules (one
    shuffle each), unioned into (rule, n_violations, n_rows)."""
    out = validate(df, rules)
    for keys in unique_keys or []:
        out = out.unionByName(unique_violations(df, keys))
    return out


def iqr_outliers(
    df: DataFrame, col: str, k: float = 1.5, round_bounds: int | None = None
) -> DataFrame:
    """(rule, n_violations, n_rows) for the Tukey IQR outlier rule:
    values outside [q1 - k·IQR, q3 + k·IQR]. Unlike the static rules,
    the bounds come FROM the data — one exact-percentile aggregation
    produces a single bounds row, broadcast onto a second pass that
    counts violations (NULLs are not outliers; `not_null` owns them).

    Exact interpolated percentiles keep the rule reproducible in any
    engine (quantile_cont parity); at 100 TB swap `percentile` for
    `approx_percentile` and accept sketch bounds — same plan shape.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    lo = F.col("_q1") - k * (F.col("_q3") - F.col("_q1"))
    hi = F.col("_q3") + k * (F.col("_q3") - F.col("_q1"))
    if round_bounds is not None:
        # cross-engine reproducibility: interpolated percentiles can
        # differ in final ulps between engines; rounded fences make the
        # outlier set identical (pass when an oracle replays the rule)
        lo, hi = F.round(lo, round_bounds), F.round(hi, round_bounds)
    bounds = df.agg(
        F.expr(f"percentile({col}, 0.25)").alias("_q1"),
        F.expr(f"percentile({col}, 0.75)").alias("_q3"),
    ).select(lo.alias("_lo"), hi.alias("_hi"))
    joined = attach_scalar(df, bounds)
    return joined.agg(
        F.sum(
            F.when(
                F.col(col).isNotNull()
                & ((F.col(col) < F.col("_lo")) | (F.col(col) > F.col("_hi"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.lit(f"{col}:iqr_outliers").alias("rule"), "n_violations", "n_rows"
    )


FAILED_RULE = "_failure_reason"


@dataclass(frozen=True)
class ExpectationSplit:
    """One tagged pass over the batch (the cleaning kernel's shape):
    ``passed`` rows violate no rule; ``failed`` rows carry the FIRST
    violated rule's name in ``_failure_reason``. Both are filters over
    the same tagged plan, so a writer consuming both shares the scan."""

    passed: DataFrame
    failed: DataFrame
    tagged: DataFrame


def split_expectations(df: DataFrame, rules: list[Rule]) -> ExpectationSplit:
    """Split a batch on a rule suite — the row-routing half of the
    write gate (:func:`validate` is the counting half). First-violated
    rule wins the tag, rule order = caller's priority."""
    if not rules:
        raise ValueError("split_expectations needs at least one rule")
    if FAILED_RULE in df.columns:
        raise ValueError(f"input already carries {FAILED_RULE!r}")
    tag = F.coalesce(
        *[F.when(r.violation, F.lit(r.name)) for r in rules],
        F.lit(None).cast("string"),
    )
    tagged = df.withColumn(FAILED_RULE, tag)
    return ExpectationSplit(
        passed=tagged.filter(F.col(FAILED_RULE).isNull()).drop(FAILED_RULE),
        failed=tagged.filter(F.col(FAILED_RULE).isNotNull()),
        tagged=tagged,
    )
