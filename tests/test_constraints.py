"""CHECK constraints + generated columns on the versioned layer
(round 15) — the reference hardcodes row-validity rules inside its
cleaning pass (monarch_etl/cleaning.py:205-216); the engine makes
the same rules declarative table metadata enforced on every commit,
Delta ``ADD CONSTRAINT`` / generated-column parity:

* ADD CONSTRAINT proves the existing table first (one agg), commits
  metadata-only (zero-copy relink), shows in DESCRIBE HISTORY;
* every upsert validates the batch in ONE aggregation pass and
  refuses the commit on violation — nothing is published;
* ANSI semantics: NULL passes a CHECK (NOT NULL spelled explicitly);
* the sidecar carries across data commits, compaction, clone;
  RESTORE adopts the restored version's set (time-travel parity);
* generated columns: absent → computed; present → null-safe
  invariant validated; enforcement binds per CAS attempt.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from animaltrackingetls_spark.constraints import (
    ConstraintViolationError,
    add_check_constraint,
    drop_check_constraint,
    drop_generated_column,
    read_constraints,
    set_generated_column,
)
from animaltrackingetls_spark.inventory import (
    compact_versioned,
    describe_history,
    list_versions,
    read_versioned,
    restore_versioned,
    upsert_parquet_versioned,
    upsert_parquet_versioned_partitioned,
)


def _seed(spark, path, rows=None):
    rows = rows or [Row(id=1, qty=5, tag="a"), Row(id=2, qty=7, tag="b")]
    upsert_parquet_versioned(spark, path, spark.createDataFrame(rows), ["id"])
    return path


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    with pytest.raises(ConstraintViolationError) as ei:
        add_check_constraint(spark, path, "qty_small", "qty < 6")
    assert ei.value.violations == {"check:qty_small": 1}
    # the failed ALTER published nothing
    assert len(list_versions(path)) == 1
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    assert read_constraints(path)["checks"] == {"qty_pos": "qty > 0"}
    ops = [r.operation for r in describe_history(spark, path).collect()]
    assert "ADD CONSTRAINT qty_pos" in ops


def test_upsert_enforces_check_and_publishes_nothing_on_violation(
    spark, tmp_path
):
    path = _seed(spark, _tbl(tmp_path, "t"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    n_versions = len(list_versions(path))
    bad = spark.createDataFrame([Row(id=3, qty=-1, tag="x")])
    with pytest.raises(ConstraintViolationError) as ei:
        upsert_parquet_versioned(spark, path, bad, ["id"])
    assert ei.value.violations == {"check:qty_pos": 1}
    assert len(list_versions(path)) == n_versions
    assert read_versioned(spark, path).count() == 2
    ok = spark.createDataFrame([Row(id=3, qty=9, tag="x")])
    upsert_parquet_versioned(spark, path, ok, ["id"])
    assert read_versioned(spark, path).count() == 3


def test_null_passes_check_ansi_semantics(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    nullish = spark.createDataFrame(
        [Row(id=4, qty=None, tag="n")],
        "id int, qty int, tag string",
    )
    upsert_parquet_versioned(spark, path, nullish, ["id"])  # NULL passes
    add_check_constraint(spark, path, "tag_nn", "tag IS NOT NULL")
    no_tag = spark.createDataFrame(
        [Row(id=5, qty=1, tag=None)], "id int, qty int, tag string"
    )
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(spark, path, no_tag, ["id"])


def test_drop_constraint_disarms(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    with pytest.raises(KeyError):
        drop_check_constraint(spark, path, "nope")
    drop_check_constraint(spark, path, "qty_pos")
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=9, qty=-5, tag="z")]),
        ["id"],
    )
    assert read_versioned(spark, path).where("qty = -5").count() == 1


def test_duplicate_name_and_bad_expr_rejected(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, path, "qty_pos", "qty > 1")
    with pytest.raises(Exception):
        add_check_constraint(spark, path, "broken", "qty >>> nonsense ((")
    with pytest.raises(ValueError, match="identifier"):
        add_check_constraint(spark, path, "bad name!", "qty > 0")


def test_constraints_carry_across_commits_and_compaction(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    for i in range(3, 7):
        upsert_parquet_versioned(
            spark, path,
            spark.createDataFrame([Row(id=i, qty=i, tag="c")]), ["id"],
            keep_versions=3,
        )
    assert read_constraints(path)["checks"] == {"qty_pos": "qty > 0"}
    compact_versioned(spark, path, keep_versions=3)
    assert read_constraints(path)["checks"] == {"qty_pos": "qty > 0"}
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(
            spark, path,
            spark.createDataFrame([Row(id=99, qty=0, tag="x")]), ["id"],
        )


def test_restore_adopts_restored_versions_constraint_set(spark, tmp_path):
    path = _seed(spark, _tbl(tmp_path, "t"))
    pre = list_versions(path)[-1]
    add_check_constraint(spark, path, "qty_pos", "qty > 0",
                         keep_versions=4)
    restore_versioned(spark, path, pre, keep_versions=4)
    # the rollback adopted the PRE-constraint metadata: writes pass
    assert read_constraints(path)["checks"] == {}
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=8, qty=-2, tag="r")]),
        ["id"],
    )
    assert read_versioned(spark, path).where("qty = -2").count() == 1


def test_generated_column_lifecycle(spark, tmp_path):
    path = _tbl(tmp_path, "g")
    rows = [Row(id=1, qty=5, double_qty=10), Row(id=2, qty=7, double_qty=14)]
    upsert_parquet_versioned(spark, path, spark.createDataFrame(rows), ["id"])
    # attach: existing rows must satisfy col <=> expr
    with pytest.raises(ConstraintViolationError):
        set_generated_column(spark, path, "double_qty", "qty * 3")
    set_generated_column(spark, path, "double_qty", "qty * 2")
    with pytest.raises(ValueError, match="not in"):
        set_generated_column(spark, path, "missing_col", "qty")
    # absent in the batch -> computed
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=3, qty=4)]), ["id"],
        merge_schema=True,
    )
    got = {
        r.id: r.double_qty for r in read_versioned(spark, path).collect()
    }
    assert got == {1: 10, 2: 14, 3: 8}
    # present and wrong -> refused, nothing published
    n_versions = len(list_versions(path))
    with pytest.raises(ConstraintViolationError) as ei:
        upsert_parquet_versioned(
            spark, path,
            spark.createDataFrame([Row(id=4, qty=1, double_qty=99)]),
            ["id"],
        )
    assert ei.value.violations == {"generated:double_qty": 1}
    assert len(list_versions(path)) == n_versions
    # present and right -> accepted
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=4, qty=1, double_qty=2)]), ["id"],
    )
    # drop the rule -> arbitrary values pass again
    drop_generated_column(spark, path, "double_qty")
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=5, qty=1, double_qty=77)]), ["id"],
    )
    assert read_versioned(spark, path).where("double_qty = 77").count() == 1


def test_partitioned_upsert_enforces(spark, tmp_path):
    path = _tbl(tmp_path, "p")
    rows = [Row(id=1, qty=5, day="d1"), Row(id=2, qty=7, day="d2")]
    upsert_parquet_versioned_partitioned(
        spark, path, spark.createDataFrame(rows), ["id"], n_buckets=4
    )
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned_partitioned(
            spark, path,
            spark.createDataFrame([Row(id=3, qty=-1, day="d1")]),
            ["id"], n_buckets=4,
        )
    upsert_parquet_versioned_partitioned(
        spark, path,
        spark.createDataFrame([Row(id=3, qty=3, day="d1")]),
        ["id"], n_buckets=4,
    )
    assert read_versioned(spark, path).count() == 3


def test_cdc_pinned_alter_logs_empty_commit(spark, tmp_path):
    from animaltrackingetls_spark.cdc import read_change_data

    path = _tbl(tmp_path, "c")
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=1, qty=5, tag="a")]), ["id"],
        write_change_data=True, keep_versions=6,
    )
    add_check_constraint(spark, path, "qty_pos", "qty > 0",
                         keep_versions=6)
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=2, qty=6, tag="b")]), ["id"],
        keep_versions=6,
    )
    versions = list_versions(path)
    # the feed reads ACROSS the ALTER commit (no hole — the ALTER
    # logged a provably-empty change commit): all retained changes
    # are the two inserts only
    changes = read_change_data(spark, path, None, versions[-1])
    kinds = [
        (r.id, r._change_type)
        for r in changes.orderBy("id", "_change_type").collect()
    ]
    assert kinds == [(1, "insert"), (2, "insert")]


def test_enforcement_rereads_per_attempt_base(spark, tmp_path):
    """A constraint added AFTER a writer read its base must bind the
    retried merge: simulate by adding the constraint between two
    upserts and confirming the second write (which re-reads commit
    state at its own attempt) enforces it — the hook reads the
    sidecar from the attempt's CAS base, not from call-time state."""
    path = _seed(spark, _tbl(tmp_path, "r"))
    bad = spark.createDataFrame([Row(id=7, qty=-1, tag="x")])
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(spark, path, bad, ["id"])


def test_dv_and_delete_paths_unaffected(spark, tmp_path):
    """Constraints gate rows ENTERING the table; DV deletes and
    delete_keys remove rows and must not be blocked by checks the
    departing rows would fail after removal."""
    from animaltrackingetls_spark.inventory import delete_versioned

    path = _seed(spark, _tbl(tmp_path, "d"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    delete_versioned(
        spark, path, spark.createDataFrame([Row(id=1)]), ["id"], dv=True
    )
    assert read_versioned(spark, path).count() == 1
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=6, qty=2, tag="k")]),
        ["id"], dv=True,
    )
    assert read_versioned(spark, path).count() == 2


def test_alter_races_concurrent_writer(spark, tmp_path):
    """A REAL second process hammers valid upserts while this process
    cycles ADD/DROP CONSTRAINT: every ALTER either lands or surfaces
    ConcurrentWriteError (and is retried), no writer commit is lost,
    the final constraint set is the last ALTER's, and enforcement is
    live afterwards — the metadata commits serialize with data commits
    through the same CAS."""
    import subprocess
    import sys as _sys

    from animaltrackingetls_spark.inventory import (
        ConcurrentWriteError,
        txn_watermarks,
    )

    path = _seed(spark, _tbl(tmp_path, "race"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import Row\n"
        "from animaltrackingetls_spark.session import get_spark\n"
        "from animaltrackingetls_spark.inventory import "
        "upsert_parquet_versioned\n"
        "spark = get_spark(app_name='cns_race', master='local[2]',\n"
        "                  shuffle_partitions=2,\n"
        "                  extra_conf={{'spark.ui.enabled': 'false'}})\n"
        "for i in range(10):\n"
        "    upsert_parquet_versioned(\n"
        "        spark, {path!r},\n"
        "        spark.createDataFrame([Row(id=100 + i, qty=i + 1,\n"
        "                                   tag='w')]),\n"
        "        ['id'], retries=30, txn_app_id='racer', txn_version=i,\n"
        "        keep_versions=4)\n"
        "print('WRITER_DONE')\n"
    ).format(repo=repo, path=path)
    proc = subprocess.Popen(
        [_sys.executable, "-c", worker],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    try:
        want = None
        for round_ in range(6):
            for op, args in (("add", ("qty_pos", "qty > 0")),
                             ("drop", ("qty_pos",))):
                for _try in range(40):
                    try:
                        if op == "add":
                            add_check_constraint(spark, path, *args,
                                                 keep_versions=4)
                            want = {"qty_pos": "qty > 0"}
                        else:
                            drop_check_constraint(spark, path, *args,
                                                  keep_versions=4)
                            want = {}
                        break
                    except ConcurrentWriteError:
                        continue
                else:
                    raise AssertionError(f"ALTER {op} never landed")
            if proc.poll() is not None:
                break
        out, _ = proc.communicate(timeout=240)
        assert proc.returncode == 0 and "WRITER_DONE" in out, out[-2000:]
    finally:
        if proc.poll() is None:
            proc.kill()
    # zero lost updates: the racer's watermark reached its final version
    assert txn_watermarks(path).get("racer") == 9
    got = {r.id for r in read_versioned(spark, path).collect()}
    assert set(range(100, 110)) <= got
    # the final constraint set is exactly the last successful ALTER's
    assert read_constraints(path)["checks"] == want
    # enforcement is live (re-arm if the loop ended on a drop)
    if want == {}:
        add_check_constraint(spark, path, "qty_pos", "qty > 0",
                             keep_versions=4)
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(
            spark, path,
            spark.createDataFrame([Row(id=999, qty=-1, tag="x")]), ["id"],
            keep_versions=4,
        )


def test_pruned_base_during_constraint_read_retries(spark, tmp_path, monkeypatch):
    """A FileNotFoundError from the constraint-sidecar read (the base
    version pruned between the pointer read and the open — a
    concurrent-writer shape) must convert to a retryable conflict and
    re-merge from the new CURRENT, not surface raw (same contract as
    scan-time file-not-found, round-10 advisory)."""
    import animaltrackingetls_spark.constraints as cns

    path = _seed(spark, _tbl(tmp_path, "prune"))
    real = cns.read_constraints
    calls = {"n": 0}

    def flaky(table_dir, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError("sidecar pruned under the reader")
        return real(table_dir, version)

    monkeypatch.setattr(cns, "read_constraints", flaky)
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=3, qty=1, tag="r")]),
        ["id"],
    )
    assert calls["n"] >= 2
    assert read_versioned(spark, path).count() == 3


def test_partitioned_upsert_materializes_generated_columns(spark, tmp_path):
    """Round-15 review finding: the bucketed writer derived its
    bucketed frame BEFORE enforcement, so a batch omitting a generated
    column wrote the un-enforced frame (snapshot and CDC diverged).
    The generated value must land in the bucketed snapshot."""
    path = _tbl(tmp_path, "pg")
    rows = [Row(id=1, qty=5, qty2=10), Row(id=2, qty=7, qty2=14)]
    upsert_parquet_versioned_partitioned(
        spark, path, spark.createDataFrame(rows), ["id"], n_buckets=4
    )
    set_generated_column(spark, path, "qty2", "qty * 2")
    upsert_parquet_versioned_partitioned(
        spark, path, spark.createDataFrame([Row(id=3, qty=4)]), ["id"],
        n_buckets=4, merge_schema=True,
    )
    got = {r.id: r.qty2 for r in read_versioned(spark, path).collect()}
    assert got == {1: 10, 2: 14, 3: 8}


def test_partial_batch_skips_unresolvable_constraints(spark, tmp_path):
    """Round-15 review finding: a merge_schema partial batch that
    stopped carrying a constrained column (old values SURVIVE the
    merge) must not brick with an analysis error — the rule validates
    what the batch carries. Sound: surviving values were validated at
    their own write; an inserted row's absent column is NULL, which
    passes ANSI CHECK."""
    path = _seed(spark, _tbl(tmp_path, "pb"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    # update id=1's tag only — no qty column in the batch at all
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=1, tag="patched")]), ["id"],
        merge_schema=True,
    )
    row = read_versioned(spark, path).where("id = 1").first()
    assert row.tag == "patched" and row.qty == 5  # old value survived
    # a batch that DOES carry qty still enforces
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(
            spark, path,
            spark.createDataFrame([Row(id=9, qty=-1, tag="x")]), ["id"],
        )


def test_clone_carries_constraints(spark, tmp_path):
    """Round-15 review finding: the clone link-walk skips '_'-prefixed
    sidecars and publishes with no base, so a clone of a constrained
    table was silently unconstrained (Delta CLONE carries
    constraints)."""
    from animaltrackingetls_spark.inventory import clone_versioned

    src = _seed(spark, _tbl(tmp_path, "src"))
    add_check_constraint(spark, src, "qty_pos", "qty > 0")
    dest = _tbl(tmp_path, "dest")
    clone_versioned(spark, src, dest)
    assert read_constraints(dest)["checks"] == {"qty_pos": "qty > 0"}
    with pytest.raises(ConstraintViolationError):
        upsert_parquet_versioned(
            spark, dest,
            spark.createDataFrame([Row(id=9, qty=-1, tag="x")]), ["id"],
        )
    # and the clone's constraint set evolves independently of the source
    drop_check_constraint(spark, dest, "qty_pos")
    assert read_constraints(src)["checks"] == {"qty_pos": "qty > 0"}


def test_on_violation_drop_commits_clean_rows(spark, tmp_path):
    """The DLT 'drop' expectation mode: violating rows filter out and
    the rest of the batch commits — streaming ingestion must not die
    on one bad record."""
    path = _seed(spark, _tbl(tmp_path, "drop"))
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    batch = spark.createDataFrame([
        Row(id=3, qty=9, tag="good"),
        Row(id=4, qty=-1, tag="bad"),
        Row(id=5, qty=0, tag="bad"),
    ])
    upsert_parquet_versioned(spark, path, batch, ["id"],
                             on_violation="drop")
    got = {r.id for r in read_versioned(spark, path).collect()}
    assert got == {1, 2, 3}
    with pytest.raises(ValueError, match="fail|drop"):
        upsert_parquet_versioned(spark, path, batch, ["id"],
                                 on_violation="quarantine")


def test_split_violations_quarantine(spark, tmp_path):
    """The quarantine splitter: (clean, dirty) with dirty naming every
    broken rule per row; generated columns computed on both sides."""
    from animaltrackingetls_spark.constraints import split_violations

    path = _tbl(tmp_path, "q")
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=1, qty=5, qty2=10, tag="a")]),
        ["id"],
    )
    add_check_constraint(spark, path, "qty_pos", "qty > 0")
    add_check_constraint(spark, path, "tag_nn", "tag IS NOT NULL")
    set_generated_column(spark, path, "qty2", "qty * 2")
    batch = spark.createDataFrame(
        [
            Row(id=2, qty=3, tag="ok"),      # clean; qty2 generated
            Row(id=3, qty=-1, tag="neg"),    # one violation
            Row(id=4, qty=-2, tag=None),     # two violations
        ],
        "id int, qty int, tag string",
    )
    clean, dirty = split_violations(spark, path, batch)
    crows = clean.collect()
    assert [(r.id, r.qty2) for r in crows] == [(2, 6)]
    d = {r.id: r._violations for r in dirty.collect()}
    assert d == {
        3: "check:qty_pos",
        4: "check:qty_pos,check:tag_nn",
    }
    # the clean side commits under full enforcement
    upsert_parquet_versioned(spark, path, clean, ["id"])
    assert read_versioned(spark, path).count() == 2
