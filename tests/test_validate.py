"""Validation rules: counts, NULL semantics, single-scan plan."""

from __future__ import annotations

import pytest

from animaltrackingetls_spark.operators.validate import (
    in_range,
    in_set,
    matches,
    not_null,
    unique_violations,
    validate,
    validation_report,
)


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "A", "x1"),
            (2, -5.0, "B", "x2"),     # range violation
            (3, None, "A", "yy"),     # null + range(null) + regex violations
            (3, 50.0, "C", "x3"),     # dup id + set violation
            (5, 200.0, None, "x4"),   # range + set(null) violations
        ],
        "id long, v double, cat string, code string",
    )


def test_rule_counts_and_null_semantics(frame):
    out = {
        r.rule: (r.n_violations, r.n_rows)
        for r in validate(
            frame,
            [
                not_null("v"),
                in_range("v", 0.0, 100.0),
                in_set("cat", ["A", "B"]),
                matches("code", "^x[0-9]$"),
            ],
        ).collect()
    }
    assert out["v:not_null"] == (1, 5)
    assert out["v:in_range"] == (3, 5)   # -5, NULL, 200
    assert out["cat:in_set"] == (2, 5)   # C and NULL
    assert out["code:matches"] == (1, 5)  # yy


def test_unique_violations_counts_all_rows_of_dup_keys(frame):
    row = unique_violations(frame, ["id"]).first()
    assert row.rule == "id:unique"
    assert row.n_violations == 2  # both rows of id=3
    assert row.n_rows == 5


def test_report_unions_and_value_rules_share_one_scan(spark, frame):
    from animaltrackingetls_spark.plans.audit import formatted_plan

    rules = [not_null("v"), in_range("v", 0.0, 100.0), in_set("cat", ["A"])]
    value_only = validate(frame, rules)
    # all value rules ride ONE aggregate over one scan
    import re

    plan = formatted_plan(value_only)
    assert len(re.findall(r"\(\d+\) Scan", plan)) == 1

    report = validation_report(frame, rules, unique_keys=[["id"], ["code"]])
    assert report.count() == 5  # 3 value rules + 2 uniqueness rules

    with pytest.raises(ValueError):
        validate(frame, [])


def test_iqr_outliers_flags_tails_only(spark):
    from animaltrackingetls_spark.operators.validate import iqr_outliers

    rows = [(float(v),) for v in range(1, 101)] + [(1000.0,), (-500.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    row = iqr_outliers(df, "v").first()
    assert row.rule == "v:iqr_outliers"
    assert row.n_violations == 2      # only the planted extremes; NULL exempt
    assert row.n_rows == 103

    # k=0 collapses the fence to [q1, q3]: ~half the uniform data flagged
    tight = iqr_outliers(df, "v", k=0.0).first()
    assert tight.n_violations > 40

    import pytest as _pytest

    with _pytest.raises(ValueError):
        iqr_outliers(df, "v", k=-1)


def test_split_expectations_first_violated_rule_wins(spark):
    """The row-routing half of a write gate: passing rows lose the tag
    column, failing rows carry the FIRST violated rule's name."""
    from animaltrackingetls_spark.operators.validate import (
        in_range,
        not_null,
        split_expectations,
    )

    rules = [not_null("v"), in_range("score", 0.0, 1.0)]
    good = [(1, "a", 0.5), (2, "b", 0.9)]
    bad = [(3, None, 0.5), (4, "d", 7.0)]
    df = spark.createDataFrame(good + bad, "k long, v string, score double")

    sp = split_expectations(df, rules)
    tags = {r.k: r._failure_reason for r in sp.failed.collect()}
    assert tags == {3: "v:not_null", 4: "score:in_range"}
    assert {r.k for r in sp.passed.collect()} == {1, 2}
