"""RENAME COLUMN / DROP COLUMN on versioned tables (round 15) —
full-rewrite commits through the standard CAS publish (no
column-mapping layer, Delta-without-columnMapping posture):

* data survives under the new name / disappears with the dropped one,
  the operation lands in DESCRIBE HISTORY, and time travel + RESTORE
  still see the historical schema in retained versions;
* guards mirror Delta's: missing/colliding columns and the last
  column refuse the ALTER;
* a DV-carrying snapshot rewrites DV-resolved — deleted rows stay
  deleted and the sidecar materializes away;
* bucket-partitioned layouts refuse (their pruning layout pins column
  identities).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from animaltrackingetls_spark.inventory import (
    delete_versioned,
    describe_history,
    drop_column,
    list_versions,
    read_versioned,
    rename_column,
    restore_versioned,
    upsert_parquet_versioned,
)


def _seed(spark, path, rows=None):
    rows = rows or [Row(id=1, qty=5, tag="a"), Row(id=2, qty=7, tag="b")]
    upsert_parquet_versioned(spark, path, spark.createDataFrame(rows), ["id"])
    return path


def test_rename_basic_and_time_travel(spark, tmp_path):
    path = _seed(spark, str(tmp_path / "t"))
    pre = list_versions(path)[-1]
    rename_column(spark, path, "qty", "quantity", keep_versions=4)
    now = read_versioned(spark, path)
    assert "quantity" in now.columns and "qty" not in now.columns
    assert {r.id: r.quantity for r in now.collect()} == {1: 5, 2: 7}
    ops = [r.operation for r in describe_history(spark, path).collect()]
    assert "RENAME COLUMN qty TO quantity" in ops
    old = read_versioned(spark, path, version=pre)
    assert "qty" in old.columns and "quantity" not in old.columns


def test_rename_guards(spark, tmp_path):
    path = _seed(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not in"):
        rename_column(spark, path, "nope", "x")
    with pytest.raises(ValueError, match="already a column"):
        rename_column(spark, path, "qty", "tag")


def test_drop_basic_and_guards(spark, tmp_path):
    path = _seed(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not in"):
        drop_column(spark, path, "nope")
    drop_column(spark, path, "tag", keep_versions=4)
    now = read_versioned(spark, path)
    assert sorted(now.columns) == ["id", "qty"]
    assert {r.id: r.qty for r in now.collect()} == {1: 5, 2: 7}
    ops = [r.operation for r in describe_history(spark, path).collect()]
    assert "DROP COLUMN tag" in ops


def test_last_column_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet_versioned(
        spark, path, spark.createDataFrame([Row(id=1)]), ["id"]
    )
    with pytest.raises(ValueError, match="last column"):
        drop_column(spark, path, "id")


def test_rename_materializes_dv(spark, tmp_path):
    path = _seed(spark, str(tmp_path / "t"))
    delete_versioned(
        spark, path, spark.createDataFrame([Row(id=1)]), ["id"], dv=True,
        keep_versions=4,
    )
    rename_column(spark, path, "qty", "quantity", keep_versions=4)
    now = read_versioned(spark, path)
    assert {r.id for r in now.collect()} == {2}
    # the rewrite materialized the delete: no DV sidecar in the new version
    cur = list_versions(path)[-1]
    assert not os.path.isdir(os.path.join(path, cur, ".dv"))
    # and a later re-insert of the deleted key works normally
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame([Row(id=1, quantity=9, tag="z")]), ["id"],
        keep_versions=4,
    )
    assert read_versioned(spark, path).where("id = 1").first().quantity == 9


def test_bucketed_layout_refuses(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        upsert_parquet_versioned_partitioned,
    )

    path = str(tmp_path / "b")
    upsert_parquet_versioned_partitioned(
        spark, path, spark.createDataFrame([Row(id=1, qty=5)]), ["id"],
        n_buckets=4,
    )
    with pytest.raises(NotImplementedError):
        rename_column(spark, path, "qty", "quantity")
    with pytest.raises(NotImplementedError):
        drop_column(spark, path, "qty")


def test_restore_across_rename_restores_schema(spark, tmp_path):
    path = _seed(spark, str(tmp_path / "t"))
    pre = list_versions(path)[-1]
    rename_column(spark, path, "qty", "quantity", keep_versions=4)
    restore_versioned(spark, path, pre, keep_versions=4)
    now = read_versioned(spark, path)
    assert "qty" in now.columns and "quantity" not in now.columns
    assert {r.id: r.qty for r in now.collect()} == {1: 5, 2: 7}


def test_describe_files_metadata_table(spark, tmp_path):
    """Iceberg's `files` metadata table analog: per-file bytes/rows/
    stats/DV accounting from sidecars only (no Spark job to answer)."""
    import json

    from animaltrackingetls_spark.inventory import describe_files

    path = str(tmp_path / "f")
    upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id=i, qty=i * 2) for i in range(1, 9)]
        ).repartition(2),
        ["id"], target_files=2, keep_versions=4,
    )
    df = describe_files(spark, path)
    rows = df.collect()
    assert len(rows) >= 1
    assert sum(r.rows for r in rows) == 8
    assert all(r.bytes > 0 and r.dv_rows == 0 for r in rows)
    stats = json.loads(rows[0].column_stats)
    assert "id" in stats and "lo" in stats["id"]
    # DV delete charges exactly the affected file
    delete_versioned(
        spark, path, spark.createDataFrame([Row(id=3)]), ["id"], dv=True,
        keep_versions=4,
    )
    after = describe_files(spark, path).collect()
    assert sum(r.dv_rows for r in after) == 1
    # retained older version still answers; unknown version raises
    first = list_versions(path)[0]
    assert sum(r.dv_rows for r in
               describe_files(spark, path, first).collect()) == 0
    with pytest.raises(FileNotFoundError):
        describe_files(spark, path, "v-999999-deadbeef")
