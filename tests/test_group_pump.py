"""Group writer deletes (round 12, r11 verdict task #4).

A group commit applies every member's upsert and delete together:
delete-only members, NULL-safe delete keys, and deletes keyed by
non-key columns that must keep the surviving rows.
"""

from __future__ import annotations

from animaltrackingetls_spark.inventory import (
    group_state,
    read_versioned_group,
    upsert_group_versioned,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _member_rows(spark, group, table):
    return {
        tuple(r) for r in read_versioned_group(spark, group, table).collect()
    }


def test_group_writer_atomic_deletes(spark, tmp_path):
    """The writer-side half: upsert+delete in one commit, delete-only
    members, NULL-safe delete keys."""
    g = str(tmp_path / "g")
    upsert_group_versioned(spark, g, {
        "a": (_df(spark, [(1, "x"), (2, "y"), (None, "nul")],
                  "k long, v string"), ["k"]),
        "b": (_df(spark, [(5, 1.0)], "k long, z double"), ["k"]),
    }, keep_versions=3)
    # delete-only member 'a' (incl. a NULL key), upsert member 'b'
    upsert_group_versioned(spark, g, {
        "b": (_df(spark, [(6, 2.0)], "k long, z double"), ["k"]),
    }, keep_versions=3,
        deletes={"a": _df(spark, [(2,), (None,)], "k long")})
    a = _member_rows(spark, g, "a")
    b = _member_rows(spark, g, "b")
    assert a == {(1, "x")}  # 2 and the NULL-keyed row both gone
    assert b == {(5, 1.0), (6, 2.0)}
    # one commit: both members' history advanced together
    st = group_state(g)
    assert len(st["history"]["a"]) == 2 and len(st["history"]["b"]) == 2


def test_group_delete_only_by_non_key_columns_keeps_survivors(spark, tmp_path):
    """Round-12 self-review finding #2: a delete-only member keyed by a
    SUBSET of its unique key (delete all rows of band 11) must keep
    every surviving row — the old path re-windowed on the delete frame's
    columns and silently collapsed (10,1)/(10,2) to one row."""
    g = str(tmp_path / "gdel")
    upsert_group_versioned(spark, g, {
        "bands": (_df(spark, [(10, 1), (10, 2), (11, 1)],
                      "b long, k long"), ["b", "k"]),
    }, keep_versions=3)
    upsert_group_versioned(
        spark, g, {}, keep_versions=3,
        deletes={"bands": _df(spark, [(11,)], "b long")})
    assert _member_rows(spark, g, "bands") == {(10, 1), (10, 2)}
