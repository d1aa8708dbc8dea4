"""Column profiling: aggregate semantics, NULL handling, approx mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.operators.profile import profile_columns
from animaltrackingetls_spark.operators import profile


def _frame(spark):
    rows = [
        (1, "a", None),
        (2, "b", 10),
        (3, "a", 20),
        (4, None, 20),
        (5, "c", None),
    ]
    return spark.createDataFrame(rows, "id long, cat string, val long")


def test_profile_exact_stats(spark):
    out = {r.col_name: r for r in profile_columns(_frame(spark)).collect()}
    assert set(out) == {"id", "cat", "val"}
    for r in out.values():
        assert r.n_rows == 5
    assert (out["id"].n_null, out["id"].n_distinct) == (0, 5)
    assert (out["cat"].n_null, out["cat"].n_distinct) == (1, 3)
    assert (out["val"].n_null, out["val"].n_distinct) == (2, 2)
    assert (out["id"].min_value, out["id"].max_value) == ("1", "5")
    assert (out["cat"].min_value, out["cat"].max_value) == ("a", "c")
    assert (out["val"].min_value, out["val"].max_value) == ("10", "20")


def test_profile_column_subset_and_validation(spark):
    df = _frame(spark)
    out = profile_columns(df, ["cat"]).collect()
    assert [r.col_name for r in out] == ["cat"]
    with pytest.raises(ValueError, match="not in frame"):
        profile_columns(df, ["nope"])
    with pytest.raises(ValueError, match="at least one"):
        profile_columns(df, [])


def test_profile_approx_mode_shape(spark):
    df = _frame(spark)
    out = {r.col_name: r for r in profile_columns(df, exact_distinct=False).collect()}
    # HLL on tiny cardinalities is exact in practice; shape must match
    assert out["id"].n_distinct == 5
    assert out["cat"].n_distinct == 3


def test_profile_single_aggregation_pass(spark):
    # the profile must be ONE aggregate over the scan, not one scan per
    # column: assert a single Aggregate chain in the optimized plan
    df = _frame(spark)
    plan = profile_columns(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 2  # partial+final, never per-column


def test_profile_diff_flags_real_drift_only(spark):
    from animaltrackingetls_spark.operators.profile import profile_diff

    before = spark.createDataFrame(
        [(i, f"u{i % 50}", float(i)) for i in range(1000)],
        "id long, user string, v double",
    )
    # after: 30% of user NULLed (null drift), v range extended (fine),
    # distinct count stable
    after = before.withColumn(
        "user", F.when(F.col("id") % 10 < 3, None).otherwise(F.col("user"))
    ).withColumn("v", F.col("v") * 2)
    out = {
        (r.col_name, r.check): (r.flagged, r.before, r.after)
        for r in profile_diff(before, after).collect()
    }
    assert out[("user", "null_ratio")][0] is True
    assert out[("id", "null_ratio")][0] is False
    assert out[("user", "distinct")][0] is False  # still 50 distinct
    assert out[("v", "range")][0] is False  # ranges move legitimately
    assert out[("_table_", "rows")] == (False, "1000", "1000")


def test_profile_diff_schema_drift_always_flagged(spark):
    from animaltrackingetls_spark.operators.profile import profile_diff

    before = spark.createDataFrame([(1, "a")], "id long, oldcol string")
    after = spark.createDataFrame([(1, 2.0)], "id long, newcol double")
    out = {
        (r.col_name, r.check): r.flagged for r in profile_diff(before, after).collect()
    }
    assert out[("oldcol", "schema")] is True
    assert out[("newcol", "schema")] is True
    assert ("id", "null_ratio") in out


def test_profile_diff_distinct_collapse_flagged(spark):
    from animaltrackingetls_spark.operators.profile import profile_diff

    before = spark.createDataFrame([(i, f"u{i}") for i in range(100)],
                                   "id long, user string")
    after = before.withColumn("user", F.lit("u0"))  # cardinality collapse
    out = {
        (r.col_name, r.check): r.flagged for r in profile_diff(before, after).collect()
    }
    assert out[("user", "distinct")] is True


def test_profile_diff_validates_tolerances(spark):
    from animaltrackingetls_spark.operators.profile import profile_diff

    df = spark.createDataFrame([(1,)], "id long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_diff(df, df, null_ratio_tolerance=2.0)
    with _pytest.raises(ValueError):
        profile_diff(df, df, distinct_ratio_tolerance=0.0)


def test_profile_diff_total_schema_replacement(spark):
    """No shared columns at all — the loudest drift must not crash."""
    from animaltrackingetls_spark.operators.profile import profile_diff

    before = spark.createDataFrame([(1,), (2,)], "a long")
    after = spark.createDataFrame([(1.0,)], "b double")
    out = {(r.col_name, r.check): (r.flagged, r.before, r.after)
           for r in profile_diff(before, after).collect()}
    assert out[("a", "schema")][0] is True
    assert out[("b", "schema")][0] is True
    assert out[("_table_", "rows")] == (False, "2", "1")


def test_profile_diff_rejects_ghost_columns(spark):
    from animaltrackingetls_spark.operators.profile import profile_diff

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="neither snapshot"):
        profile_diff(df, df, columns=["typo_col"])


def test_drift_gate_blocks_corpus_build_and_load(spark, tmp_path):
    """The wired gate: injected drift (a column whose nulls jump 0% →
    40%) must BLOCK both build_pretraining_corpus and write_partitioned
    before any work happens; the same-shaped clean batch passes."""
    import pytest

    from animaltrackingetls_spark.io import write_partitioned
    from animaltrackingetls_spark.operators.profile import DriftDetected
    from animaltrackingetls_spark.pretrain import build_pretraining_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away into the green field where the other animals are happy "
    )
    def rows(start, null_lang=False):
        return [
            (
                start + i,
                base + f"variant{i % 5}",
                None if null_lang and i % 5 < 2 else "en",
                "web",
                len(base) + 8,
            )
            for i in range(50)
        ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    ref = spark.createDataFrame(rows(0), schema)
    clean = spark.createDataFrame(rows(100), schema)
    drifted = spark.createDataFrame(rows(200, null_lang=True), schema)

    # clean batch: gate passes, corpus builds
    out = build_pretraining_corpus(clean, reference_snapshot=ref)
    assert out.count() > 0

    # drifted batch: blocked with the flagged check carried in the error
    with pytest.raises(DriftDetected) as exc:
        build_pretraining_corpus(drifted, reference_snapshot=ref)
    assert any(r["col_name"] == "lang" for r in exc.value.diff_rows)

    # load-side twin: nothing may reach disk on a drifted batch
    import os

    target = str(tmp_path / "gated_load")
    write_partitioned(clean, target, ["source"], drift_reference=ref)
    assert os.path.exists(target)
    target2 = str(tmp_path / "gated_load2")
    with pytest.raises(DriftDetected):
        write_partitioned(drifted, target2, ["source"], drift_reference=ref)
    assert not os.path.exists(target2)

    # schema drift (dropped column) is always flagged
    with pytest.raises(DriftDetected):
        build_pretraining_corpus(
            drifted.drop("lang").withColumn("lang", F.lit("en")).drop("n_chars"),
            reference_snapshot=ref,
        )


def test_profile_quantiles_exact_known_values(spark):
    # 1..100: R-7 interpolation gives exact textbook values
    df = spark.range(1, 101).select(F.col("id").cast("double").alias("v"))
    out = {
        (r["col_name"], r["prob"]): r["q"]
        for r in profile.profile_quantiles(df, ["v"], (0.0, 0.25, 0.5, 1.0))
        .collect()
    }
    assert out == {
        ("v", 0.0): 1.0,
        ("v", 0.25): 25.75,
        ("v", 0.5): 50.5,
        ("v", 1.0): 100.0,
    }


def test_profile_quantiles_matches_duckdb_twin(spark):
    import duckdb

    df = spark.createDataFrame(
        [(float(x),) for x in [3, 1, 4, 1, 5, 9, 2, 6]] + [(None,)],
        "v double",
    )
    got = sorted(
        (r["col_name"], r["prob"], r["q"])
        for r in profile.profile_quantiles(df, ["v"], (0.1, 0.5, 0.9))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (3.0),(1.0),(4.0),(1.0),"
        "(5.0),(9.0),(2.0),(6.0),(NULL)) v(v)"
    )
    want = sorted(
        map(tuple,
            con.execute(
                profile.quantiles_oracle_sql("t", ["v"], (0.1, 0.5, 0.9))
            ).fetchall())
    )
    assert got == want


def test_profile_quantiles_approx_rank_error(spark):
    # GK sketch guarantee: rank error <= n/accuracy. With n=10_000 and
    # accuracy=1000 the reported quantile's true rank is within 1% of
    # the target rank.
    n, acc = 10_000, 1000
    df = spark.range(n).select(F.col("id").cast("double").alias("v"))
    rows = profile.profile_quantiles(
        df, ["v"], (0.25, 0.5, 0.75), exact=False, accuracy=acc
    ).collect()
    for r in rows:
        true_rank = r["q"] / (n - 1)
        assert abs(true_rank - r["prob"]) <= 1.0 / acc * 10 + 0.01


def test_profile_quantiles_validation(spark):
    df = spark.range(3).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="at least one column"):
        profile.profile_quantiles(df, [])
    with pytest.raises(ValueError, match="not in frame"):
        profile.profile_quantiles(df, ["nope"])
    with pytest.raises(ValueError, match="within"):
        profile.profile_quantiles(df, ["v"], (1.5,))
    with pytest.raises(ValueError, match=r"not numeric: \['s'\]"):
        profile.profile_quantiles(df.withColumn("s", F.lit("x")), ["v", "s"])


def _jvm_percentiles(df, cols, probs):
    """The pre-r16 JVM form: one `percentile` aggregate per column."""
    plist = ", ".join(repr(float(p)) for p in probs)
    aggs = [
        F.expr(f"percentile(CAST({c} AS DOUBLE), array({plist}))").alias(c)
        for c in cols
    ]
    return df.agg(*aggs).collect()[0]


def _arrow_percentiles(df, cols, probs):
    row = profile._exact_quantiles_arrow(df, cols, probs).collect()[0]
    return [row[f"_q_{c}"] for c in cols]


def _assert_bit_equal(got, want, ctx):
    import math
    import struct

    assert (got is None) == (want is None), f"{ctx}: {got!r} vs {want!r}"
    if got is None:
        return
    assert len(got) == len(want), ctx
    for i, (g, w) in enumerate(zip(got, want)):
        gb = struct.pack("<d", g)
        wb = struct.pack("<d", w)
        if math.isnan(g) and math.isnan(w):
            continue
        assert gb == wb, f"{ctx}[{i}]: {g!r} != {w!r}"


@pytest.mark.parametrize("parts", [1, 7])
def test_profile_quantiles_arrow_jvm_parity(spark, parts):
    # r16 Arrow twin vs the JVM `percentile` aggregate, BIT-for-bit
    # before rounding, on adversarial doubles: duplicates, ties, NaN
    # (must collapse and sort greatest), -0.0 vs 0.0 (distinct keys,
    # -0.0 first), nulls (ignored), negatives, interpolation positions
    # landing exactly on and between keys.
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, None, float("nan"),
            -0.0, 0.0, -7.25, 1e300, -1e300, 2.0, 2.0, 1e-308]
    probs = (0.0, 0.01, 0.25, 0.5, 0.6180339887, 0.75, 0.99, 1.0)
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    if parts > 1:
        df = df.repartition(parts)
    want = _jvm_percentiles(df, ["v"], probs)["v"]
    got = _arrow_percentiles(df, ["v"], probs)[0]
    _assert_bit_equal(got, want, f"parts={parts}")


def test_profile_quantiles_arrow_jvm_parity_edge_frames(spark):
    probs = (0.0, 0.5, 1.0)
    cases = {
        "empty": [],
        "all_null": [(None,), (None,)],
        "single": [(42.5,)],
        "one_distinct": [(7.0,)] * 5,
        "all_nan": [(float("nan"),)] * 3,
        # p=0.5 sits between the distinct keys -0.0 and 0.0, which are
        # equal as values: the JVM returns the lower key, -0.0
        "zero_straddle": [(-0.0,), (0.0,)],
        "int_overflow_longs": None,  # built below from longs
    }
    for name, rows in cases.items():
        if name == "int_overflow_longs":
            # longs past 2^53 collide under the double cast — the twin
            # must still match the JVM aggregate (which casts at
            # interpolation time; collisions merge harmlessly)
            df = spark.createDataFrame(
                [(2**53 + 1,), (2**53 + 2,), (2**53 + 3,), (5,)], "v long"
            )
        else:
            df = spark.createDataFrame(rows, "v double")
        want = _jvm_percentiles(df, ["v"], probs)["v"]
        got = _arrow_percentiles(
            df.select(F.col("v").cast("double").alias("v")), ["v"], probs
        )[0]
        _assert_bit_equal(got, want, name)


def test_profile_quantiles_arrow_multicolumn_with_holes(spark):
    # one column all-null, one mixed — per-column independence in the
    # shared partial/final passes
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, None)], "a double, b double"
    )
    probs = (0.25, 0.5)
    want_a = _jvm_percentiles(df, ["a"], probs)["a"]
    want_b = _jvm_percentiles(df, ["b"], probs)["b"]
    got = _arrow_percentiles(df, ["a", "b"], probs)
    _assert_bit_equal(got[0], want_a, "a")
    _assert_bit_equal(got[1], want_b, "b")


def test_profile_quantiles_single_aggregate_plan(spark):
    # the scale claim: k columns x p probs is ONE aggregation pass —
    # exactly one scan of the input, no joins
    df = spark.range(100).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 2).cast("double").alias("b"),
    )
    out = profile.profile_quantiles(df, ["a", "b"], (0.5, 0.9))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "Range (" is the scan node; bare "Range" would also match the
    # window frame's RangeFrame spec (r15 distributed-exact form)
    assert plan.count("Range (") == 1 and "Join" not in plan
