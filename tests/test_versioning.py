"""Dataset versioning: corpus snapshot diff + SCD2 history collapse.

The diff digest must be DuckDB-portable (that's what makes the
corpus_diff driver query hash-checkable) — pinned here by computing the
md5 twin in DuckDB over the identical sentinel/separator encoding. The
SCD2 collapse is pinned against a hand-computed history and the plan
invariant (one exchange total) is asserted, since "the aggregate reuses
the window's partitioning" is the operator's whole scale argument.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from animaltrackingetls_spark.operators import versioning as V


def _old_new(spark):
    old = spark.createDataFrame(
        [
            Row(k=1, text="a", lang="en"),
            Row(k=2, text="b", lang="en"),
            Row(k=3, text="c", lang="de"),
            Row(k=4, text=None, lang="en"),
            Row(k=5, text="e", lang=None),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, text="a", lang="en"),      # unchanged
            Row(k=2, text="B", lang="en"),      # changed
            Row(k=4, text="d", lang="en"),      # changed (NULL -> 'd')
            Row(k=5, text="e", lang=None),      # unchanged (NULL stable)
            Row(k=6, text="f", lang="fr"),      # added
        ]                                        # k=3 removed
    )
    return old, new


def test_corpus_diff_statuses(spark):
    old, new = _old_new(spark)
    got = {
        r["k"]: r["change"]
        for r in V.corpus_diff(old, new, ["k"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "changed", 6: "added"}


def test_corpus_diff_include_unchanged_and_summary(spark):
    old, new = _old_new(spark)
    full = V.corpus_diff(old, new, ["k"], include_unchanged=True)
    assert full.count() == 6
    summary = {
        r["change"]: r["n"]
        for r in V.corpus_diff_summary(old, new, ["k"]).collect()
    }
    assert summary == {"added": 1, "removed": 1, "changed": 2,
                       "unchanged": 2}


def test_corpus_diff_null_order_sensitivity(spark):
    # ('a', NULL) vs (NULL, 'a') must differ: plain concat_ws would
    # collapse both to 'a'
    schema = "k int, a string, b string"
    old = spark.createDataFrame([(1, "a", None)], schema)
    new = spark.createDataFrame([(1, None, "a")], schema)
    [r] = V.corpus_diff(old, new, ["k"]).collect()
    assert r["change"] == "changed"


def test_row_digest_matches_duckdb_twin(spark):
    rows = [
        Row(k=1, a="x", b="y"),
        Row(k=2, a=None, b="y"),
        Row(k=3, a="with'quote", b=""),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["k"]: r["d"]
        for r in df.select("k", V.row_digest(["a", "b"], "d")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, 'x', 'y'), (2, NULL, 'y'), (3, 'with''quote', '')"
        ") v(k, a, b)"
    )
    want = dict(
        con.execute(
            f"SELECT k, {V.row_digest_sql(['a', 'b'])} FROM t"
        ).fetchall()
    )
    assert got == want


def test_corpus_diff_validation(spark):
    old, new = _old_new(spark)
    with pytest.raises(ValueError, match="key column"):
        V.corpus_diff(old, new, [])
    with pytest.raises(ValueError, match="lacks columns"):
        V.corpus_diff(old, new, ["k"], ["nope"])
    # key-only snapshots are a PRESENCE diff since round 12 (membership
    # tables): added/removed only, 'changed' impossible by construction
    got = {
        (r["k"], r["change"])
        for r in V.corpus_diff(
            old.select("k"), new.select("k"), ["k"]
        ).collect()
    }
    assert all(c in ("added", "removed") for _, c in got)
    only_old = {r["k"] for r in old.select("k").exceptAll(
        new.select("k")).collect()}
    only_new = {r["k"] for r in new.select("k").exceptAll(
        old.select("k")).collect()}
    assert got == (
        {(k, "removed") for k in only_old} | {(k, "added") for k in only_new}
    )


def test_corpus_diff_duplicate_keys_raise(spark):
    # The docstring's promise, implemented in round 10: a duplicate key
    # in either snapshot fails the job instead of silently fanning out
    # through the full-outer join.
    old, new = _old_new(spark)
    dup_new = new.unionByName(
        spark.createDataFrame([Row(k=2, text="B2", lang="en")])
    )
    with pytest.raises(Exception, match="duplicate key in new snapshot"):
        V.corpus_diff(old, dup_new, ["k"]).collect()
    dup_old = old.unionByName(
        spark.createDataFrame([Row(k=1, text="a2", lang="en")])
    )
    with pytest.raises(Exception, match="duplicate key in old snapshot"):
        V.corpus_diff(dup_old, new, ["k"]).collect()
    # assert_unique=False keeps the unguarded (fan-out) behavior for
    # inputs dedup-certified upstream
    n = V.corpus_diff(old, dup_new, ["k"], assert_unique=False).count()
    assert n >= 4


def test_corpus_diff_guard_adds_no_exchange(spark):
    # The guard's scale claim: the count-over-keys window requires
    # hashpartitioning(keys) + sort(keys) — exactly what the full-outer
    # SMJ requires of each side — so the guarded plan still has ONE
    # exchange per side (two total), shared by Window and join.
    import re

    old, new = _old_new(spark)
    guarded = V.corpus_diff(old, new, ["k"])
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "SortMergeJoin" in plan and "Window" in plan


def _ts(day, h=0):
    return datetime.datetime(2024, 1, day, h)


def test_scd2_collapse(spark):
    hist = spark.createDataFrame(
        [
            Row(k="u1", s="a", ts=_ts(1), i=0),
            Row(k="u1", s="a", ts=_ts(2), i=1),   # same state: no new version
            Row(k="u1", s="b", ts=_ts(3), i=2),   # change
            Row(k="u1", s="a", ts=_ts(4), i=3),   # back to 'a': NEW version
            Row(k="u2", s=None, ts=_ts(1), i=4),  # NULL initial state
            Row(k="u2", s="x", ts=_ts(2), i=5),   # NULL -> 'x' opens version
        ]
    )
    out = V.scd2_from_history(hist, ["k"], ["s"], "ts", tie_col="i")
    rows = {
        (r["k"], r["version"]): (r["s"], r["valid_from"], r["valid_to"],
                                 r["is_current"])
        for r in out.collect()
    }
    assert rows == {
        ("u1", 1): ("a", _ts(1), _ts(3), False),
        ("u1", 2): ("b", _ts(3), _ts(4), False),
        ("u1", 3): ("a", _ts(4), None, True),
        ("u2", 1): (None, _ts(1), _ts(2), False),
        ("u2", 2): ("x", _ts(2), None, True),
    }


def test_scd2_tie_break_determinism(spark):
    # two events at the SAME timestamp: the tie column orders them, so
    # the final state is the higher tie value's
    hist = spark.createDataFrame(
        [
            Row(k="u", s="late", ts=_ts(1), i=2),
            Row(k="u", s="early", ts=_ts(1), i=1),
        ]
    )
    out = V.scd2_from_history(hist, ["k"], ["s"], "ts", tie_col="i")
    cur = [r for r in out.collect() if r["is_current"]]
    assert [r["s"] for r in cur] == ["late"]


def test_scd2_single_exchange_plan(spark):
    # the scale argument: window shuffle on key is the ONLY exchange —
    # the (key, version) aggregate and the valid_to lead both reuse it
    hist = spark.createDataFrame(
        [Row(k="u", s="a", ts=_ts(1), i=0), Row(k="u", s="b", ts=_ts(2), i=1)]
    )
    out = V.scd2_from_history(hist, ["k"], ["s"], "ts", tie_col="i")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_as_of(spark):
    hist = spark.createDataFrame(
        [
            Row(k="u1", s="a", ts=_ts(1), i=0),
            Row(k="u1", s="b", ts=_ts(5), i=1),
        ]
    )
    dim = V.scd2_from_history(hist, ["k"], ["s"], "ts", tie_col="i")
    assert [r["s"] for r in V.as_of(dim, _ts(3)).collect()] == ["a"]
    assert [r["s"] for r in V.as_of(dim, _ts(6)).collect()] == ["b"]
    # exactly at a boundary: the new version owns it (closed-open)
    assert [r["s"] for r in V.as_of(dim, _ts(5)).collect()] == ["b"]
    assert V.as_of(dim, _ts(1) - datetime.timedelta(days=1)).count() == 0


def test_scd2_validation(spark):
    hist = spark.createDataFrame([Row(k="u", s="a", ts=_ts(1), i=0)])
    with pytest.raises(ValueError, match="attribute"):
        V.scd2_from_history(hist, ["k"], [], "ts")


def test_table_changes_between_retained_versions(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        list_versions,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    # plain layout
    t = str(tmp_path / "cdf")
    upsert_parquet_versioned(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                              "k long, txt string"),
        ["k"], keep_versions=3,
    )
    upsert_parquet_versioned(
        spark, t,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, txt string"),
        ["k"], keep_versions=3,
    )
    got = {
        r.k: r.change
        for r in V.table_changes(spark, t, ["k"]).collect()
    }
    assert got == {2: "changed", 4: "added"}
    # explicit endpoints: v2 -> v2 is empty churn
    v2 = list_versions(t)[-1]
    assert V.table_changes(spark, t, ["k"], from_version=v2,
                           to_version=v2).count() == 0

    # bucket-partitioned layout: internal column dropped before diff
    tp = str(tmp_path / "cdfp")
    upsert_parquet_versioned_partitioned(
        spark, tp,
        spark.createDataFrame([(i, float(i)) for i in range(100)],
                              "k long, v double"),
        ["k"], n_buckets=4, keep_versions=3,
    )
    upsert_parquet_versioned_partitioned(
        spark, tp,
        spark.createDataFrame([(5, -1.0), (200, 1.0)], "k long, v double"),
        ["k"], n_buckets=4, keep_versions=3,
    )
    got = {r.k: r.change for r in V.table_changes(spark, tp, ["k"]).collect()}
    assert got == {5: "changed", 200: "added"}

    with pytest.raises(FileNotFoundError):
        V.table_changes(spark, str(tmp_path / "missing"), ["k"])


# ---------------------------------------------------------------------------
# Round-10 review fixes (code-review findings on versioning.py)
# ---------------------------------------------------------------------------


def test_corpus_diff_null_keys_match_null_safe(spark):
    """An identical NULL-keyed row in both snapshots is UNCHANGED (not
    added+removed churn), a changed NULL-keyed row reports 'changed',
    and duplicate NULL keys in one side trip the uniqueness guard —
    join and guard now share one NULL semantics."""
    schema = "k string, v string"
    old = spark.createDataFrame([(None, "same"), ("a", "x")], schema)
    new = spark.createDataFrame([(None, "same"), ("a", "y")], schema)
    got = {r["k"]: r["change"] for r in V.corpus_diff(old, new, ["k"]).collect()}
    assert got == {"a": "changed"}  # the NULL-key row is unchanged

    new2 = spark.createDataFrame([(None, "DIFFERENT"), ("a", "x")], schema)
    got = {r["k"]: r["change"]
           for r in V.corpus_diff(old, new2, ["k"]).collect()}
    assert got == {None: "changed"}

    dup_null = spark.createDataFrame(
        [(None, "p"), (None, "q")], schema
    )
    with pytest.raises(Exception, match="duplicate key"):
        V.corpus_diff(old, dup_null, ["k"]).collect()


def test_row_digest_separator_injection_resistant(spark):
    """Values embedding the field separator (or shifting content across
    the boundary) must digest DIFFERENTLY — the length prefix makes the
    concatenation unambiguous."""
    sep = "\x00|\x00"
    a = spark.createDataFrame([(1, "a" + sep + "b", "c")],
                              "k int, x string, y string")
    b = spark.createDataFrame([(1, "a", "b" + sep + "c")],
                              "k int, x string, y string")
    [r] = V.corpus_diff(a, b, ["k"]).collect()
    assert r["change"] == "changed"


def test_row_digest_type_portability_contract(spark):
    """The measured contract: DuckDB twin is byte-identical for
    string/long/bool/date/timestamp digests; float/double are
    DOCUMENTED non-portable (Java shortest-repr vs C exact expansion)
    — this test pins the split so a silent regression in either
    direction is caught."""
    import datetime

    rows = [Row(k=1, s="x", n=1234567890123, b=True,
                d=datetime.date(2024, 2, 29),
                t=datetime.datetime(2024, 2, 29, 13, 5, 7, 500000),
                f=1e10)]
    df = spark.createDataFrame(rows)
    portable = ["s", "n", "b", "d", "t"]
    got = df.select(V.row_digest(portable, "dg")).first()["dg"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 'x' AS s, 1234567890123 AS n, "
        "true AS b, DATE '2024-02-29' AS d, "
        "TIMESTAMP '2024-02-29 13:05:07.5' AS t, 1e10 AS f"
    )
    want = con.execute(
        f"SELECT {V.row_digest_sql(portable)} FROM t"
    ).fetchone()[0]
    assert got == want
    # the documented divergence: doubles render differently per engine
    got_f = df.select(V.row_digest(["f"], "dg")).first()["dg"]
    want_f = con.execute(
        f"SELECT {V.row_digest_sql(['f'])} FROM t"
    ).fetchone()[0]
    assert got_f != want_f, (
        "double rendering now matches across engines — update the "
        "portability contract in row_digest's docstring"
    )


def test_scd2_rejects_empty_keys_and_reserved_columns(spark):
    hist = spark.createDataFrame(
        [Row(k="u", s="a", ts=_ts(1), i=0)]
    )
    with pytest.raises(ValueError, match="key column"):
        V.scd2_from_history(hist, [], ["s"], "ts")
    bad = hist.withColumnRenamed("i", "version")
    with pytest.raises(ValueError, match="reserves output"):
        V.scd2_from_history(bad, ["k"], ["s"], "ts")
    with pytest.raises(ValueError, match="reserves output"):
        V.corpus_diff(hist, hist, ["change"], ["s"])


def test_table_changes_sees_evolved_column_backfill(spark, tmp_path):
    """A column added between snapshots must CHURN for existing keys
    whose backfill gave it values — the shared-columns default would
    silently exclude it (review finding)."""
    from animaltrackingetls_spark.inventory import upsert_parquet_versioned

    t = str(tmp_path / "cdfe")
    upsert_parquet_versioned(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, txt string"),
        ["k"], keep_versions=3,
    )
    widened = spark.createDataFrame(
        [(1, "a", 0.9)], "k long, txt string, score double"
    )
    upsert_parquet_versioned(spark, t, widened, ["k"], keep_versions=3,
                             merge_schema=True)
    got = {r.k: r.change for r in V.table_changes(spark, t, ["k"]).collect()}
    # key 1 gained a score value -> changed; key 2's score is NULL on
    # both aligned sides -> unchanged
    assert got == {1: "changed"}


@pytest.mark.parametrize("mode", ["hardlink", "manifest"])
def test_table_changes_churn_pruned_on_bucketed(spark, tmp_path, mode):
    """Round-11 churn-pruned CDF: on a bucketed table, buckets whose
    physical identity (manifest origin / hardlinked inodes) is equal
    across the two snapshots are byte-identical, so the diff scans only
    changed buckets — and must still equal the brute-force full-scan
    diff exactly, including a bucket EMPTIED by delete."""
    import os

    from animaltrackingetls_spark.inventory import (
        _bucket_identity,
        _snapshot_df,
        delete_versioned,
        list_versions,
        read_versioned,
        upsert_parquet_versioned_partitioned,
    )
    from animaltrackingetls_spark.operators.versioning import (
        corpus_diff,
        table_changes,
    )

    t = str(tmp_path / "t")
    base = spark.range(800).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    upsert_parquet_versioned_partitioned(
        spark, t, base, ["k"], n_buckets=8, scheme="range",
        keep_versions=4, link_mode=mode,
    )
    # localized churn: a few updates in low buckets + empty one bucket
    upsert_parquet_versioned_partitioned(
        spark, t,
        spark.createDataFrame([(1, "u1"), (2, "u2"), (803, "new")],
                              "k long, v string"),
        ["k"], n_buckets=8, scheme="range", keep_versions=4,
    )
    hi = spark.range(700, 800).selectExpr("id AS k")  # empties bucket 7
    delete_versioned(spark, t, hi, ["k"], keep_versions=4)
    v0, v1, v2 = list_versions(t)

    # identity marks only the churned buckets as different
    i0, i2 = _bucket_identity(t, v0), _bucket_identity(t, v2)
    changed = {d for d in set(i0) | set(i2) if i0.get(d) != i2.get(d)}
    n_buckets_total = len(set(i0) | set(i2))
    assert 1 <= len(changed) < n_buckets_total

    # the pruned diff equals the brute-force full-scan diff
    pruned = table_changes(spark, t, ["k"], v0, v2)
    brute = corpus_diff(
        read_versioned(spark, t, v0), read_versioned(spark, t, v2), ["k"]
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(pruned) == as_set(brute)
    kinds = {r.k: r.change for r in pruned.collect()}
    assert kinds[1] == "changed" and kinds[803] == "added"
    assert kinds[700] == "removed"  # the emptied bucket's rows

    # and the restricted read actually skips untouched buckets' files
    full_files = set(_snapshot_df(spark, t, v2).inputFiles())
    pruned_files = set(
        _snapshot_df(spark, t, v2, buckets=changed).inputFiles()
    )
    assert pruned_files < full_files
    assert len(pruned_files) <= len(changed)
