"""Inventory: naming, date helpers, MERGE-style upsert."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.inventory import (
    INVENTORY_COLUMNS,
    date_days_ago,
    first_sunday_of_year,
    merge_upsert,
    register_load,
    table_name_for_day,
    table_name_for_month,
    upsert_parquet,
)

_B_SCHEMA = "available_date string, table_name string, record_count long, processed_at string"


def test_table_naming(spark):
    df = spark.createDataFrame([("2025-06-01",), ("2024-12-31",)], "d string").select(
        F.col("d").cast("date").alias("d")
    )
    out = df.select(
        table_name_for_day(F.col("d")).alias("day_name"),
        table_name_for_month(F.col("d")).alias("month_name"),
    ).collect()
    assert {(r.day_name, r.month_name) for r in out} == {
        ("june012025", "june2025"), ("december312024", "december2024")
    }


def test_first_sunday_including_jan1_edge(spark):
    df = spark.createDataFrame([(2024,), (2023,), (2017,)], "y int")
    out = {r.y: r.fs for r in df.select(
        "y", first_sunday_of_year(F.col("y")).alias("fs")).collect()}
    assert out[2024] == datetime.date(2024, 1, 7)
    assert out[2023] == datetime.date(2023, 1, 1)  # Jan 1 IS a Sunday
    assert out[2017] == datetime.date(2017, 1, 1)


def test_date_days_ago_with_anchor(spark):
    df = spark.createDataFrame([(1,)], "x int")
    out = df.select(
        date_days_ago(10, F.lit("2024-03-05").cast("date")).alias("d")
    ).collect()[0].d
    assert out == datetime.date(2024, 2, 24)


def test_merge_upsert_updates_win(spark):
    b1 = spark.createDataFrame(
        [("2024-01-01", "t1", 10, "a"), ("2024-01-02", "t2", 20, "a")], _B_SCHEMA)
    b2 = spark.createDataFrame(
        [("2024-01-02", "t2", 25, "b"), ("2024-01-03", "t3", 5, "b")], _B_SCHEMA)
    out = {r.available_date: (r.record_count, r.processed_at)
           for r in merge_upsert(b1, b2, ["available_date"]).collect()}
    assert out == {"2024-01-01": (10, "a"), "2024-01-02": (25, "b"), "2024-01-03": (5, "b")}


def test_upsert_parquet_durable(spark, tmp_path):
    path = os.path.join(str(tmp_path), "inv")
    b1 = spark.createDataFrame([("2024-01-01", "t1", 10, "a")], _B_SCHEMA)
    b2 = spark.createDataFrame([("2024-01-01", "t1", 99, "b")], _B_SCHEMA)
    upsert_parquet(spark, path, b1, ["available_date"])
    final = upsert_parquet(spark, path, b2, ["available_date"])
    assert [(r.record_count, r.processed_at) for r in final.collect()] == [(99, "b")]


@pytest.mark.parametrize("leftover", ["aside_copy", "finished_tmp"])
def test_upsert_parquet_recovers_interrupted_swap(spark, tmp_path, leftover):
    """What a crash inside the swap leaves instead of the live table —
    the table renamed aside next to a tmp that never committed, or a
    finished tmp never renamed into place — is restored by the next
    upsert, which merges into it instead of publishing only its rows."""
    path = os.path.join(str(tmp_path), "inv")
    b1 = spark.createDataFrame([("2024-01-01", "t1", 10, "a")], _B_SCHEMA)
    b2 = spark.createDataFrame([("2024-01-02", "t2", 5, "b")], _B_SCHEMA)
    upsert_parquet(spark, path, b1, ["available_date"])
    if leftover == "aside_copy":
        os.replace(path, path + ".old-deadbeef")
        os.makedirs(path + ".tmp-deadbeef")  # a write cut off before commit
    else:
        os.replace(path, path + ".tmp-deadbeef")  # committed, has _SUCCESS
    final = upsert_parquet(spark, path, b2, ["available_date"])
    assert {r.available_date: r.record_count for r in final.collect()} == {
        "2024-01-01": 10, "2024-01-02": 5,
    }
    assert [d for d in os.listdir(tmp_path) if d != "inv"] == []


def test_upsert_dbapi_on_conflict(spark, tmp_path):
    import sqlite3

    from animaltrackingetls_spark.inventory import upsert_dbapi

    db = os.path.join(str(tmp_path), "inv.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE data_inventory (available_date TEXT PRIMARY KEY, "
            "table_name TEXT, record_count INTEGER, processed_at TEXT)"
        )

    def factory(path=db):
        import sqlite3 as _s

        # serialized writes: sqlite locks the file; fine for a catalog table
        return _s.connect(path, timeout=30)

    b1 = spark.createDataFrame(
        [("2024-01-01", "t1", 10, "a"), ("2024-01-02", "t2", 20, "a")], _B_SCHEMA
    ).coalesce(1)
    b2 = spark.createDataFrame(
        [("2024-01-02", "t2", 25, "b"), ("2024-01-03", "t3", 5, "b")], _B_SCHEMA
    ).coalesce(1)
    upsert_dbapi(b1, factory, "data_inventory", ["available_date"])
    upsert_dbapi(b2, factory, "data_inventory", ["available_date"])
    with sqlite3.connect(db) as conn:
        rows = conn.execute(
            "SELECT available_date, record_count, processed_at "
            "FROM data_inventory ORDER BY available_date"
        ).fetchall()
    assert rows == [
        ("2024-01-01", 10, "a"),
        ("2024-01-02", 25, "b"),   # conflict → update won
        ("2024-01-03", 5, "b"),
    ]


def test_register_load_counts_per_day(spark):
    inv = spark.createDataFrame([], _B_SCHEMA).select(
        F.col("available_date").cast("date"), "table_name", "record_count", "processed_at")
    loaded = spark.createDataFrame(
        [("2025-06-01",), ("2025-06-01",), ("2025-06-02",)], "d string"
    ).select(F.col("d").cast("date").alias("date_only"))
    out = register_load(inv, loaded, processed_at="now")
    assert out.columns == INVENTORY_COLUMNS
    got = {str(r.available_date): (r.table_name, r.record_count) for r in out.collect()}
    assert got == {"2025-06-01": ("june012025", 2), "2025-06-02": ("june022025", 1)}


def test_upsert_parquet_corrupt_existing_raises(spark, tmp_path):
    """A read failure that is NOT path-missing must surface, never be
    treated as a first write (which would overwrite the surviving data)."""
    import glob

    import pytest

    path = os.path.join(str(tmp_path), "inv_corrupt")
    b1 = spark.createDataFrame([("2024-01-01", "t1", 10, "a")], _B_SCHEMA)
    upsert_parquet(spark, path, b1, ["available_date"])
    for f in glob.glob(os.path.join(path, "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not parquet at all")
    b2 = spark.createDataFrame([("2024-01-02", "t2", 5, "b")], _B_SCHEMA)
    with pytest.raises(Exception) as exc_info:
        upsert_parquet(spark, path, b2, ["available_date"])
    # must not have silently replaced the table with only batch 2
    assert "2024-01-02" not in str(
        [r for f in glob.glob(os.path.join(path, "*.parquet")) for r in [f]]
    )
    assert exc_info.value is not None


def test_versioned_upsert_snapshot_atomic(spark, tmp_path):
    """Pointer-swap upsert: merged result correct, publish is atomic
    (pointer names a complete immutable dir), crash debris is ignored,
    old versions pruned to the retention count."""
    import os

    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "inv")
    b1 = spark.createDataFrame(
        [("2024-06-01", "june012024", 10), ("2024-06-02", "june022024", 20)],
        "available_date string, table_name string, record_count long",
    )
    out1 = upsert_parquet_versioned(spark, t, b1, ["available_date"])
    assert out1.count() == 2

    # crashed writer: an unreferenced version dir must not affect readers
    os.makedirs(os.path.join(t, "v-000099-deadbeef"), exist_ok=True)

    b2 = spark.createDataFrame(
        [("2024-06-02", "june022024", 99), ("2024-06-03", "june032024", 30)],
        "available_date string, table_name string, record_count long",
    )
    out2 = {
        r.available_date: r.record_count
        for r in upsert_parquet_versioned(spark, t, b2, ["available_date"]).collect()
    }
    assert out2 == {"2024-06-01": 10, "2024-06-02": 99, "2024-06-03": 30}

    # re-read through the pointer gives the same snapshot
    again = {
        r.available_date: r.record_count for r in read_versioned(spark, t).collect()
    }
    assert again == out2

    # third upsert prunes to keep_versions=2 real versions (+ debris dir)
    b3 = spark.createDataFrame(
        [("2024-06-04", "june042024", 40)],
        "available_date string, table_name string, record_count long",
    )
    upsert_parquet_versioned(spark, t, b3, ["available_date"])
    versions = sorted(
        d for d in os.listdir(t)
        if d.startswith("v-") and os.path.isdir(os.path.join(t, d))
    )
    assert len(versions) == 3  # two retained real versions + ignored debris
    with open(os.path.join(t, "_CURRENT")) as f:
        assert f.read().strip() in versions


def test_versioned_upsert_read_before_publish_raises(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import read_versioned

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, str(tmp_path / "nothing"))


def test_reconcile_inventory_repairs_drift(spark, tmp_path):
    import datetime

    from animaltrackingetls_spark.inventory import reconcile_inventory, upsert_parquet

    data_dir = str(tmp_path / "data")
    inv_path = str(tmp_path / "inventory")

    rows = [
        (i, datetime.date(2024, 6, 1 + (i % 3)))  # 3 days: 4/3/3 rows
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, date_only date")
    df.write.partitionBy("date_only").parquet(data_dir)

    # seed a DRIFTED inventory: day 1 undercounted, day 4 phantom (no data)
    seed = spark.createDataFrame(
        [
            (datetime.date(2024, 6, 1), "june012024", 1, "2024-06-01 00:00:00"),
            (datetime.date(2024, 6, 4), "june042024", 99, "2024-06-04 00:00:00"),
        ],
        "available_date date, table_name string, record_count long, processed_at string",
    )
    upsert_parquet(spark, inv_path, seed, ["available_date"])

    out = reconcile_inventory(
        spark, data_dir, inv_path, processed_at="2024-07-01 00:00:00"
    )
    got = {
        str(r.available_date): (r.table_name, r.record_count)
        for r in out.collect()
    }
    assert got["2024-06-01"] == ("june012024", 4)   # repaired from 1
    assert got["2024-06-02"] == ("june022024", 3)   # newly registered
    assert got["2024-06-03"] == ("june032024", 3)
    assert got["2024-06-04"] == ("june042024", 99)  # phantom left untouched


def test_versioned_time_travel_reads_retained_snapshot(spark, tmp_path):
    """After a second upsert, the previous retained version is still
    readable by name (audit what a consumer saw pre-upsert); unknown or
    pruned versions are refused with the retained list in the error."""
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    table = str(tmp_path / "vt")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upsert_parquet_versioned(spark, table, df1, ["k"], keep_versions=2)
    v1 = list_versions(table)[-1]
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert_parquet_versioned(spark, table, df2, ["k"], keep_versions=2)

    versions = list_versions(table)
    assert len(versions) == 2 and versions[0] == v1
    old = {r.k: r.v for r in read_versioned(spark, table, version=v1).collect()}
    cur = {r.k: r.v for r in read_versioned(spark, table).collect()}
    assert old == {1: "a", 2: "b"}
    assert cur == {1: "a", 2: "B", 3: "c"}

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, table, version="v-999999-deadbeef")


def test_versioned_upsert_target_files_pins_layout(spark, tmp_path):
    """target_files=1 publishes a single-part snapshot (catalog layout
    contract); the default writes the merge plan distributed — no
    driver-side collect of the table (the 92 s/10M-row ceiling in
    SCALING.md, "Versioned upsert: the driver materialization") — and
    both layouts read back identically."""
    import glob
    import os

    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")

    t1 = str(tmp_path / "pinned")
    upsert_parquet_versioned(spark, t1, df, ["k"], target_files=1)
    v = list_versions(t1)[-1]
    parts = glob.glob(os.path.join(t1, v, "part-*"))
    assert len(parts) == 1

    t2 = str(tmp_path / "auto")
    upsert_parquet_versioned(spark, t2, df, ["k"])
    assert (
        read_versioned(spark, t2).orderBy("k").collect()
        == read_versioned(spark, t1).orderBy("k").collect()
    )


def test_versioned_upsert_txn_idempotent_replay(spark, tmp_path):
    """The txnAppId/txnVersion watermark: a replayed (app, version)
    upsert is a no-op — same data, no new snapshot — while a later
    version applies; independent app ids don't share watermarks."""
    from animaltrackingetls_spark.inventory import (
        list_versions,
        txn_watermarks,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "txn_table")
    b = spark.createDataFrame([("k1", 10)], "k string, n int")

    out = upsert_parquet_versioned(
        spark, t, b, ["k"], txn_app_id="app", txn_version=0
    )
    assert [(r["k"], r["n"]) for r in out.collect()] == [("k1", 10)]
    v_after_first = list_versions(t)
    assert txn_watermarks(t) == {"app": 0}

    # replay of batch 0 with DIFFERENT (doubled) data: must not apply
    b_replay = spark.createDataFrame([("k1", 20)], "k string, n int")
    out2 = upsert_parquet_versioned(
        spark, t, b_replay, ["k"], txn_app_id="app", txn_version=0
    )
    assert [(r["k"], r["n"]) for r in out2.collect()] == [("k1", 10)]
    assert list_versions(t) == v_after_first  # no new snapshot published

    # an EARLIER version replaying late is also a no-op
    out3 = upsert_parquet_versioned(
        spark,
        t,
        spark.createDataFrame([("k1", 99)], "k string, n int"),
        ["k"],
        txn_app_id="app",
        txn_version=-1,
    )
    assert [(r["k"], r["n"]) for r in out3.collect()] == [("k1", 10)]

    # the NEXT version applies and advances the watermark
    b1 = spark.createDataFrame([("k1", 11), ("k2", 2)], "k string, n int")
    out4 = upsert_parquet_versioned(
        spark, t, b1, ["k"], txn_app_id="app", txn_version=1
    )
    assert sorted((r["k"], r["n"]) for r in out4.collect()) == [
        ("k1", 11), ("k2", 2)]
    assert txn_watermarks(t) == {"app": 1}

    # a different app id has its own watermark line
    other = spark.createDataFrame([("k3", 3)], "k string, n int")
    upsert_parquet_versioned(
        spark, t, other, ["k"], txn_app_id="other", txn_version=0
    )
    assert txn_watermarks(t) == {"app": 1, "other": 0}


def test_versioned_upsert_txn_watermark_survives_plain_writer(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        txn_watermarks,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "txn_carry")
    df = spark.createDataFrame([("a", 1)], "k string, n int")
    upsert_parquet_versioned(spark, t, df, ["k"], txn_app_id="s", txn_version=5)
    # a non-transactional (batch/backfill) writer interleaves
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([("b", 2)], "k string, n int"), ["k"]
    )
    # the stream's replay protection must still hold
    assert txn_watermarks(t) == {"s": 5}
    out = upsert_parquet_versioned(
        spark,
        t,
        spark.createDataFrame([("a", 999)], "k string, n int"),
        ["k"],
        txn_app_id="s",
        txn_version=5,
    )
    assert sorted((r["k"], r["n"]) for r in out.collect()) == [
        ("a", 1), ("b", 2)]


def test_versioned_upsert_txn_args_validated(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import upsert_parquet_versioned

    df = spark.createDataFrame([("a", 1)], "k string, n int")
    with _pytest.raises(ValueError, match="together"):
        upsert_parquet_versioned(
            spark, str(tmp_path / "x"), df, ["k"], txn_app_id="s"
        )


def test_compact_versioned_rewrites_small_files(spark, tmp_path):
    """Many-small-file snapshot (the streaming-upsert accumulation
    shape) compacts to the byte-target file count, data-identical,
    with the txn watermark carried so replay protection survives;
    already-compact layouts are a reported no-op."""
    from animaltrackingetls_spark.inventory import (
        compact_versioned,
        list_versions,
        read_versioned,
        txn_watermarks,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "ct")
    df = spark.range(2000).selectExpr("id AS k", "id * 3 AS v")
    # 32 tiny files: the first write now dedups through the key window
    # (r10 contract fix), so the file count follows the shuffle
    # partitioning, not the input's repartition
    sp, aqe = (spark.conf.get("spark.sql.shuffle.partitions"),
               spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        upsert_parquet_versioned(
            spark, t, df.repartition(32), ["k"],
            txn_app_id="app", txn_version=7,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sp)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
    before = read_versioned(spark, t).orderBy("k").collect()

    # target sized so everything fits in one file
    rep = compact_versioned(spark, t, target_bytes=1 << 30)
    assert rep["compacted"] and rep["files_before"] == 32
    assert rep["files_after"] == 1
    assert read_versioned(spark, t).orderBy("k").collect() == before
    # replay protection survived the rewrite
    assert txn_watermarks(t) == {"app": 7}
    # a replayed batch is still a no-op after compaction
    n_versions = len(list_versions(t))
    upsert_parquet_versioned(
        spark, t, df.limit(1), ["k"], txn_app_id="app", txn_version=7,
    )
    assert len(list_versions(t)) == n_versions

    # second pass: nothing to do
    rep2 = compact_versioned(spark, t, target_bytes=1 << 30)
    assert rep2 == {
        "files_before": 1,
        "bytes_before": rep["bytes_after"],
        "target_files": 1,
        "compacted": False,
    }


def _cow_accreted_table(spark, tmp_path, link_mode=None):
    """A CoW table in its steady-state debris shape: a few right-sized
    range-sorted files from OPTIMIZE, plus one tiny file per
    pure-insert CoW commit."""
    from animaltrackingetls_spark.inventory import (
        optimize_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "cowt")
    base = spark.range(50_000).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v"
    )
    upsert_parquet_versioned(spark, t, base, ["k"], keep_versions=3,
                             cow=True, link_mode=link_mode)
    optimize_versioned(spark, t, ["k"], target_bytes=150_000,
                       keep_versions=3)
    for i in range(5):
        ins = spark.range(1_000_000 + i, 1_000_001 + i).selectExpr(
            "id AS k", "'new' AS v"
        )
        upsert_parquet_versioned(spark, t, ins, ["k"], keep_versions=3,
                                 cow=True)
    return t


@pytest.mark.parametrize("link_mode", [None, "manifest"])
def test_compact_incremental_packs_only_debris(spark, tmp_path,
                                               link_mode):
    """incremental=True rewrites ONLY the sub-min_bytes debris files
    and carries every right-sized file with its physical identity
    intact — clustering, stats entries, and file-identity churn
    pruning all survive; a second pass is a no-op."""
    import os

    from animaltrackingetls_spark import filestats
    from animaltrackingetls_spark.inventory import (
        _snapshot_files,
        compact_versioned,
        list_versions,
        read_versioned,
    )

    t = _cow_accreted_table(spark, tmp_path, link_mode)
    v_before = list_versions(t)[-1]
    snap = _snapshot_files(t, v_before)
    sizes = {k: os.path.getsize(p) for k, p in snap.items()}
    # pick the threshold between the 1-row debris and the sorted files
    min_b = sorted(sizes.values())[-1] // 2
    debris = {k for k, s in sizes.items() if s < min_b}
    big = set(snap) - debris
    assert len(debris) >= 5 and big
    before = read_versioned(spark, t).orderBy("k").collect()

    rep = compact_versioned(spark, t, target_bytes=1 << 30,
                            incremental=True, min_bytes=min_b)
    assert rep["compacted"] and rep["small_files"] == len(debris)
    assert rep["files_after"] == len(big) + 1  # debris packed into one
    assert rep["bytes_rewritten"] == sum(sizes[k] for k in debris)
    assert read_versioned(spark, t).orderBy("k").collect() == before

    v_after = list_versions(t)[-1]
    snap2 = _snapshot_files(t, v_after)
    ident = lambda s, ks: {  # noqa: E731
        (os.stat(s[k]).st_ino, os.path.getsize(s[k])) for k in ks
    }
    # every right-sized file carried with IDENTICAL physical identity
    assert ident(snap, big) <= ident(snap2, set(snap2))
    # stats sidecar carried those entries without re-reading footers
    st = filestats.read_stats(t, v_after)
    assert st and len(st["files"]) == len(snap2)
    if link_mode == "manifest":
        # carried by REFERENCE: origins point at older versions
        from animaltrackingetls_spark.inventory import _read_manifest

        m = _read_manifest(t, v_after)
        assert m and any(origin != v_after for origin in m.values())

    # steady state: nothing left to pack
    rep2 = compact_versioned(spark, t, target_bytes=1 << 30,
                             incremental=True, min_bytes=min_b)
    assert not rep2["compacted"] and rep2["small_files"] <= 1


def test_compact_incremental_full_equivalence_when_all_small(
    spark, tmp_path
):
    """With every file under min_bytes, incremental degrades to the
    full rewrite (carry empty) — same file count as compact's target
    math, data identical."""
    from animaltrackingetls_spark.inventory import (
        compact_versioned,
        read_versioned,
    )

    t = _cow_accreted_table(spark, tmp_path)
    before = read_versioned(spark, t).orderBy("k").collect()
    rep = compact_versioned(spark, t, target_bytes=1 << 30,
                            incremental=True, min_bytes=1 << 30)
    assert rep["compacted"] and rep["files_after"] == 1
    assert read_versioned(spark, t).orderBy("k").collect() == before


def test_describe_history_operations(spark, tmp_path):
    """DESCRIBE HISTORY: every writer stamps its operation; rows come
    newest-first with commit time, physical size and the
    replay-watermark map."""
    import json

    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        describe_history,
        list_versions,
        optimize_versioned,
        restore_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    upsert_parquet_versioned(spark, t, df, ["k"], keep_versions=10,
                             txn_app_id="app", txn_version=3)
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(3, "c")], "k int, v string"),
        ["k"], keep_versions=10, cow=True,
    )
    optimize_versioned(spark, t, ["k"], keep_versions=10)
    delete_versioned(spark, t, spark.createDataFrame([(1,)], "k int"),
                     ["k"], keep_versions=10)
    restored = list_versions(t)[-2]
    restore_versioned(spark, t, restored, keep_versions=10)

    hist = describe_history(spark, t).collect()
    assert [r["operation"] for r in hist] == [
        f"RESTORE {restored}", "DELETE", "OPTIMIZE (k)",
        "MERGE (cow)", "MERGE",
    ]
    assert [r["seq"] for r in hist] == [5, 4, 3, 2, 1]
    assert hist[0]["is_current"] and not any(
        r["is_current"] for r in hist[1:]
    )
    # commit timestamps are monotone along history (newest first here)
    stamps = [r["committed_at"] for r in hist]
    assert stamps == sorted(stamps, reverse=True)
    by_op = {r["operation"]: r for r in hist}
    # the watermark map rides every row it was carried into
    assert json.loads(by_op["MERGE"]["txn_watermarks"]) == {"app": 3}
    assert json.loads(hist[0]["txn_watermarks"]) == {"app": 3}
    assert all(r["n_files"] >= 1 and r["size_bytes"] > 0 for r in hist)


def test_auto_compact_bounds_file_count(spark, tmp_path):
    """auto_compact=N on the CoW writer: every commit that leaves >= N
    debris files triggers the incremental bin-pack in the same call —
    the file count stays bounded across many insert commits with no
    external scheduler, and history shows the COMPACT commits."""
    from animaltrackingetls_spark.inventory import (
        _snapshot_files,
        describe_history,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "t")
    for i in range(9):
        ins = spark.range(i * 10, i * 10 + 10).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v"
        )
        upsert_parquet_versioned(spark, t, ins, ["k"], keep_versions=3,
                                 cow=True, auto_compact=4)
    n_files = len(_snapshot_files(t, list_versions(t)[-1]))
    assert n_files <= 4  # never reaches the 9 files blind CoW accretes
    ops = [r["operation"] for r in describe_history(spark, t).collect()]
    assert "COMPACT (incremental)" in ops
    assert read_versioned(spark, t).count() == 90


def test_auto_compact_failure_never_clobbers_published_snapshot(
    spark, tmp_path, monkeypatch
):
    """Round-14 advisory (medium): auto-compact/purge runs AFTER the
    CAS publish succeeds — a ConcurrentWriteError (or anything else)
    escaping from it must NOT reach the publish-conflict handler,
    which rmtree's the version dir. Before the fix, the handler
    deleted the already-LIVE snapshot and re-merged against a dangling
    pointer; now the commit survives and the failure is a warning."""
    import warnings as _warnings

    import animaltrackingetls_spark.inventory as inv
    from animaltrackingetls_spark.inventory import (
        ConcurrentWriteError,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "t")
    base = spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v")
    upsert_parquet_versioned(spark, t, base, ["k"], keep_versions=5)

    def _boom(*a, **kw):
        raise ConcurrentWriteError("simulated compaction CAS loss")

    monkeypatch.setattr(inv, "_maybe_auto_compact", _boom)
    ins = spark.createDataFrame([(100, 7)], "k long, v long")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        upsert_parquet_versioned(spark, t, ins, ["k"], keep_versions=5,
                                 auto_compact=1)
    assert any("auto-compact" in str(w.message) for w in caught)
    # exactly ONE new commit (no spurious re-merge), snapshot intact
    versions = list_versions(t)
    assert len(versions) == 2
    assert os.path.isdir(os.path.join(t, versions[-1]))
    got = read_versioned(spark, t)
    assert got.count() == 21
    assert got.filter("k = 100").count() == 1


def test_compact_versioned_requires_published_table(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import compact_versioned

    with _pytest.raises(FileNotFoundError):
        compact_versioned(spark, str(tmp_path / "nope"))


def test_versioned_upsert_concurrent_writer_detected_and_retried(
    spark, tmp_path, monkeypatch
):
    # Deterministic interleave: writer A's merge runs, then — before A
    # publishes — writer B commits a whole upsert. A's publish must see
    # the base moved (ConcurrentWriteError), drop its stale snapshot,
    # and re-merge against B's commit, so BOTH writers' rows land.
    import animaltrackingetls_spark.inventory as inv
    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "race")
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([("k1", 1)], "k string, v int"), ["k"]
    )

    real_merge = inv.merge_upsert
    fired = {"done": False}

    def racing_merge(existing, updates, key_cols, **kw):
        if not fired["done"]:
            fired["done"] = True
            # writer B commits between A's base read and A's publish
            upsert_parquet_versioned(
                spark, t,
                spark.createDataFrame([("k3", 3)], "k string, v int"),
                ["k"],
            )
        return real_merge(existing, updates, key_cols, **kw)

    monkeypatch.setattr(inv, "merge_upsert", racing_merge)
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([("k2", 2)], "k string, v int"), ["k"]
    )
    got = {(r.k, r.v) for r in read_versioned(spark, t).collect()}
    assert got == {("k1", 1), ("k2", 2), ("k3", 3)}, "a commit was lost"


def test_versioned_upsert_conflict_raises_with_retries_exhausted(
    spark, tmp_path, monkeypatch
):
    import pytest as _pytest

    import animaltrackingetls_spark.inventory as inv
    from animaltrackingetls_spark.inventory import (
        ConcurrentWriteError,
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "race0")
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([("k1", 1)], "k string, v int"), ["k"]
    )

    real_merge = inv.merge_upsert
    in_race = {"active": False}

    def always_racing_merge(existing, updates, key_cols, **kw):
        if not in_race["active"]:
            in_race["active"] = True
            try:
                upsert_parquet_versioned(
                    spark, t,
                    spark.createDataFrame([("kx", 9)], "k string, v int"),
                    ["k"],
                )
            finally:
                in_race["active"] = False
        return real_merge(existing, updates, key_cols, **kw)

    monkeypatch.setattr(inv, "merge_upsert", always_racing_merge)
    with _pytest.raises(ConcurrentWriteError, match="concurrent writer"):
        upsert_parquet_versioned(
            spark, t,
            spark.createDataFrame([("k2", 2)], "k string, v int"),
            ["k"], retries=0,
        )
    # the loser's stale snapshot directory was cleaned up and the
    # winner's commit is intact
    got = {(r.k, r.v) for r in read_versioned(spark, t).collect()}
    assert ("kx", 9) in got and ("k1", 1) in got


def test_versioned_upsert_threaded_writers_lose_nothing(spark, tmp_path):
    # Liveness smoke over the flock+CAS path: two threads interleave
    # real upserts on disjoint keys; every row must be present at the
    # end (pre-round-10 last-swap-wins semantics lost merges here).
    import threading

    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "threads")
    errs = []

    def writer(tag: str):
        try:
            for i in range(3):
                upsert_parquet_versioned(
                    spark, t,
                    spark.createDataFrame(
                        [(f"{tag}{i}", i)], "k string, v int"
                    ),
                    ["k"], retries=8,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in "ab"]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    got = {r.k for r in read_versioned(spark, t).collect()}
    assert got == {"a0", "a1", "a2", "b0", "b1", "b2"}


def test_compact_versioned_backs_off_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    # A writer committing between the compactor's read and publish must
    # make compaction a clean no-op (conflict report), never clobber
    # the new snapshot with the stale rewrite.
    import animaltrackingetls_spark.inventory as inv
    from animaltrackingetls_spark.inventory import (
        compact_versioned,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "compact_race")
    # current snapshot must have >1 file or compaction no-ops before it
    # ever publishes; AQE's partition coalescing would fold a tiny merge
    # to one file, so pin it off for the setup writes
    coalesce_conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old_conf = spark.conf.get(coalesce_conf)
    try:
        spark.conf.set(coalesce_conf, "false")
        for i in range(3):
            upsert_parquet_versioned(
                spark, t,
                spark.createDataFrame(
                    [(f"k{i}_{j}", j) for j in range(10)], "k string, v int"
                ),
                ["k"], target_files=2,
            )
    finally:
        spark.conf.set(coalesce_conf, old_conf)

    real_publish = inv._publish_version

    def racing_publish(table_dir, version, marks, keep_versions, **kw):
        # first publish attempt comes from the compactor: sneak a real
        # upsert in before it, then let it proceed (and conflict)
        monkeypatch.setattr(inv, "_publish_version", real_publish)
        upsert_parquet_versioned(
            spark, t,
            spark.createDataFrame([("new", 99)], "k string, v int"), ["k"],
        )
        return real_publish(table_dir, version, marks, keep_versions, **kw)

    monkeypatch.setattr(inv, "_publish_version", racing_publish)
    rep = compact_versioned(spark, t, target_bytes=1 << 30)
    assert rep["files_before"] > 1, "setup failed to produce a multi-file layout"
    assert rep.get("conflict") is True and rep["compacted"] is False
    got = {r.k for r in read_versioned(spark, t).collect()}
    assert "new" in got and {"k0_0", "k1_0", "k2_0"} <= got
    # the compactor's stale version dir is gone
    assert len(list_versions(t)) <= 4


# ---------------------------------------------------------------------------
# Partition-pruned versioned upsert (round 10)
# ---------------------------------------------------------------------------


def _pv(spark, n, keyshift=0):
    return spark.createDataFrame(
        [(i + keyshift, float(i % 5)) for i in range(n)], "k long, v double"
    )


def test_partitioned_upsert_parity_with_plain(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    tp, tq = str(tmp_path / "part"), str(tmp_path / "plain")
    steps = [
        (_pv(spark, 500), None),
        (_pv(spark, 50, keyshift=100), 0),   # overlap: update
        (_pv(spark, 20, keyshift=1000), 1),  # disjoint: insert
        (_pv(spark, 20, keyshift=1000), 1),  # replay: must no-op
    ]
    for df, txn in steps:
        kw = {} if txn is None else {"txn_app_id": "s", "txn_version": txn}
        upsert_parquet_versioned_partitioned(
            spark, tp, df, ["k"], n_buckets=8, **kw
        )
        upsert_parquet_versioned(spark, tq, df, ["k"], **kw)
    a, b = read_versioned(spark, tp), read_versioned(spark, tq)
    assert a.columns == ["k", "v"]  # internal bucket column dropped
    assert a.count() == b.count() == 520
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_partitioned_upsert_prunes_and_hardlinks(spark, tmp_path):
    import os

    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned_partitioned as up,
    )

    t = str(tmp_path / "pp")
    up(spark, t, _pv(spark, 2000), ["k"], n_buckets=8)
    v1 = list_versions(t)[-1]
    # inode census of v1's bucket files
    v1_files = {
        os.path.join(d, f): os.stat(os.path.join(t, v1, d, f)).st_ino
        for d in os.listdir(os.path.join(t, v1))
        if d.startswith("upsert_bucket=")
        for f in os.listdir(os.path.join(t, v1, d))
        if not f.startswith((".", "_"))
    }
    assert len(v1_files) == 8  # one file per bucket by construction

    # one-key batch touches exactly one bucket
    up(spark, t, _pv(spark, 1, keyshift=17), ["k"], n_buckets=8)
    v2 = list_versions(t)[-1]
    shared = rewritten = 0
    for rel, ino in v1_files.items():
        p2 = os.path.join(t, v2, rel)
        if os.path.exists(p2) and os.stat(p2).st_ino == ino:
            shared += 1
    rewritten = 8 - shared
    assert shared == 7 and rewritten == 1, (
        f"expected 7 hardlinked + 1 rewritten bucket, got {shared} shared"
    )
    # prune v1 (keep_versions=2 retains v1+v2 -> force a third commit)
    up(spark, t, _pv(spark, 1, keyshift=18), ["k"], n_buckets=8,
       keep_versions=2)
    assert list_versions(t)[0] != v1  # v1 pruned
    # hardlinked data still readable after its source dir was deleted
    assert read_versioned(spark, t).count() == 2000


def test_partitioned_upsert_scan_prunes_partitions(spark, tmp_path):
    import os
    import re

    from animaltrackingetls_spark.inventory import (
        list_versions,
        upsert_parquet_versioned_partitioned as up,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "prune")
    up(spark, t, _pv(spark, 2000), ["k"], n_buckets=8)
    cur = list_versions(t)[-1]
    df = spark.read.parquet(os.path.join(t, cur)).filter(
        F.col("upsert_bucket").isin([1, 3])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*IN \(1,3\)", plan)
    assert m, f"bucket IN-list did not reach PartitionFilters:\n{plan[:800]}"


def test_partitioned_upsert_layout_guards(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned as up,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "guards")
    up(spark, t, _pv(spark, 100), ["k"], n_buckets=8)
    with _pytest.raises(ValueError, match="layout mismatch"):
        up(spark, t, _pv(spark, 10), ["k"], n_buckets=4)
    with _pytest.raises(ValueError, match="layout mismatch"):
        up(spark, t, _pv(spark, 10).withColumnRenamed("k", "k2"), ["k2"],
           n_buckets=8)
    tq = str(tmp_path / "plainx")
    upsert_parquet_versioned(spark, tq, _pv(spark, 100), ["k"])
    with _pytest.raises(ValueError, match="unpartitioned writer"):
        up(spark, tq, _pv(spark, 10), ["k"], n_buckets=8)
    with _pytest.raises(ValueError, match="internal column"):
        up(spark, t, _pv(spark, 10).withColumn(
            "upsert_bucket", F.lit(1)), ["k"], n_buckets=8)
    with _pytest.raises(ValueError, match="key columns"):
        up(spark, t, _pv(spark, 10).drop("k"), ["k"], n_buckets=8)


def test_partitioned_upsert_compaction_noop(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        compact_versioned,
        upsert_parquet_versioned_partitioned as up,
    )

    t = str(tmp_path / "cn")
    up(spark, t, _pv(spark, 500), ["k"], n_buckets=8)
    rep = compact_versioned(spark, t)
    assert rep["compacted"] is False and "bucket-partitioned" in rep["reason"]


def test_partitioned_upsert_schemes(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned_partitioned as up,
    )
    from pyspark.sql import functions as F

    # hash scheme: composite keys allowed, still prunes + merges right
    th = str(tmp_path / "hash")
    df2k = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(300)],
        "k long, s string, v double",
    )
    up(spark, th, df2k, ["k", "s"], n_buckets=8, scheme="hash")
    upd = spark.createDataFrame([(5, "s2", 99.0)], "k long, s string, v double")
    up(spark, th, upd, ["k", "s"], n_buckets=8, scheme="hash")
    got = read_versioned(spark, th).filter("k = 5 AND s = 's2'").collect()
    assert [r.v for r in got] == [99.0]

    # range rejects composite keys up front
    with _pytest.raises(ValueError, match="ONE numeric"):
        up(spark, str(tmp_path / "r2"), df2k, ["k", "s"], scheme="range")
    # range rejects a key that casts to all-NULL doubles
    sdf = spark.createDataFrame([("abc", 1.0), ("def", 2.0)],
                                "k string, v double")
    with _pytest.raises(ValueError, match="numeric-castable"):
        up(spark, str(tmp_path / "r3"), sdf, ["k"], scheme="range")

    # range scheme: out-of-creation-range inserts clamp to edge buckets
    tr = str(tmp_path / "rng")
    base = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v"))
    up(spark, tr, base, ["k"], n_buckets=4, scheme="range")
    outliers = spark.createDataFrame(
        [(-50, 1.0), (10_000, 2.0)], "k long, v double")
    up(spark, tr, outliers, ["k"], n_buckets=4, scheme="range")
    rows = {r.k: r.v for r in read_versioned(spark, tr)
            .filter(F.col("k").isin([-50, 10_000])).collect()}
    assert rows == {-50: 1.0, 10_000: 2.0}
    # scheme mismatch on an existing table raises
    with _pytest.raises(ValueError, match="layout mismatch"):
        up(spark, tr, outliers, ["k"], n_buckets=4, scheme="hash")


def test_delete_versioned_both_layouts(spark, tmp_path):
    import os

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        list_versions,
        read_versioned,
        txn_watermarks,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )
    from pyspark.sql import functions as F

    kdf = spark.createDataFrame([(3,), (5,), (999_999,)], "k long")

    # plain layout: anti-join rewrite; missing keys are a no-op
    t = str(tmp_path / "del_plain")
    upsert_parquet_versioned(spark, t, _pv(spark, 100), ["k"])
    out = delete_versioned(spark, t, kdf, ["k"])
    assert out.count() == 98
    assert out.filter(F.col("k").isin([3, 5])).count() == 0

    # partitioned layout: only touched buckets rewritten, rest hardlink
    tp = str(tmp_path / "del_part")
    upsert_parquet_versioned_partitioned(
        spark, tp, _pv(spark, 2000), ["k"], n_buckets=8, scheme="range"
    )
    v1 = list_versions(tp)[-1]
    inos = {
        d: {f: os.stat(os.path.join(tp, v1, d, f)).st_ino
            for f in os.listdir(os.path.join(tp, v1, d))
            if not f.startswith((".", "_"))}
        for d in os.listdir(os.path.join(tp, v1))
        if d.startswith("upsert_bucket=")
    }
    out = delete_versioned(spark, tp, spark.createDataFrame([(10,)], "k long"),
                           ["k"])
    assert out.count() == 1999 and out.filter("k = 10").count() == 0
    v2 = list_versions(tp)[-1]
    shared = sum(
        1 for d, files in inos.items()
        for f, ino in files.items()
        if os.path.exists(os.path.join(tp, v2, d, f))
        and os.stat(os.path.join(tp, v2, d, f)).st_ino == ino
    )
    assert shared == 7  # 7 of 8 buckets hardlinked, 1 rewritten

    # exactly-once: a replayed delete batch is a watermark no-op
    delete_versioned(spark, tp, spark.createDataFrame([(20,)], "k long"),
                     ["k"], txn_app_id="d", txn_version=0)
    n_after = read_versioned(spark, tp).count()
    delete_versioned(spark, tp, spark.createDataFrame([(30,)], "k long"),
                     ["k"], txn_app_id="d", txn_version=0)  # replay
    assert read_versioned(spark, tp).count() == n_after
    assert read_versioned(spark, tp).filter("k = 30").count() == 1
    assert txn_watermarks(tp)["d"] == 0

    # hard-erasure: keep_versions=1 leaves no older snapshot retaining
    # the deleted rows
    delete_versioned(spark, tp, spark.createDataFrame([(40,)], "k long"),
                     ["k"], keep_versions=1)
    assert len(list_versions(tp)) == 1
    assert read_versioned(spark, tp).filter("k = 40").count() == 0

    # guards
    with _pytest.raises(ValueError, match="lacks key columns"):
        delete_versioned(spark, tp, spark.range(3), ["k"])
    with _pytest.raises(ValueError, match="layout mismatch"):
        delete_versioned(spark, tp, kdf.withColumnRenamed("k", "z"), ["z"])
    with _pytest.raises(FileNotFoundError):
        delete_versioned(spark, str(tmp_path / "nope"), kdf, ["k"])


def test_versioned_upsert_schema_evolution(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        merge_upsert,
        read_versioned,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    # strict default: a mismatched batch fails loudly
    t = str(tmp_path / "evo")
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(1, "a")], "k long, v string"), ["k"]
    )
    widened = spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    )
    with _pytest.raises(Exception):
        upsert_parquet_versioned(spark, t, widened, ["k"])

    # merge_schema=True: new column evolves in, old rows NULL-filled
    out = upsert_parquet_versioned(spark, t, widened, ["k"],
                                   merge_schema=True)
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

    # a later NARROW batch (stopped carrying score) keeps the column,
    # and a MATCHED key keeps its existing value for the dropped column
    # (Delta MERGE-with-evolution semantics: column absence -> target
    # value survives; round-10 advisory)
    narrow = spark.createDataFrame([(1, "a2"), (2, "b2")],
                                   "k long, v string")
    out = upsert_parquet_versioned(spark, t, narrow, ["k"],
                                   merge_schema=True)
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    assert rows == {1: ("a2", None), 2: ("b2", 9.5)}

    # key columns can never be NULL-filled in
    with _pytest.raises(ValueError, match="key columns"):
        merge_upsert(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            spark.createDataFrame([("x",)], "v string"),
            ["k"], merge_schema=True,
        )

    # partitioned layout evolves too (bucket column is key-derived,
    # unaffected by value-column drift)
    tp = str(tmp_path / "evop")
    upsert_parquet_versioned_partitioned(
        spark, tp, spark.createDataFrame([(1, "a")], "k long, v string"),
        ["k"], n_buckets=4,
    )
    out = upsert_parquet_versioned_partitioned(
        spark, tp, widened, ["k"], n_buckets=4, merge_schema=True
    )
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_clone_and_restore_versioned(spark, tmp_path):
    import os

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        clone_versioned,
        list_versions,
        read_versioned,
        restore_versioned,
        txn_watermarks,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    # --- clone: zero-copy, independent evolution
    src = str(tmp_path / "src")
    upsert_parquet_versioned(
        spark, src, _pv(spark, 100), ["k"],
        txn_app_id="s", txn_version=7, keep_versions=3,
    )
    dst = str(tmp_path / "dst")
    out = clone_versioned(spark, src, dst)
    assert out.count() == 100
    # hardlinked, not copied: shared inodes
    sv = list_versions(src)[-1]
    dv = list_versions(dst)[-1]
    src_inos = {
        f: os.stat(os.path.join(src, sv, f)).st_ino
        for f in os.listdir(os.path.join(src, sv))
        if not f.startswith((".", "_"))
    }
    dst_inos = {
        f: os.stat(os.path.join(dst, dv, f)).st_ino
        for f in os.listdir(os.path.join(dst, dv))
        if not f.startswith((".", "_"))
    }
    assert set(src_inos.values()) == set(dst_inos.values())
    # watermarks do NOT carry (a clone is a new logical stream target)
    assert txn_watermarks(dst) == {} and txn_watermarks(src) == {"s": 7}
    # independent evolution: upsert into the clone, source unchanged
    upsert_parquet_versioned(
        spark, dst, _pv(spark, 5, keyshift=1000), ["k"]
    )
    assert read_versioned(spark, dst).count() == 105
    assert read_versioned(spark, src).count() == 100
    with _pytest.raises(ValueError, match="already holds"):
        clone_versioned(spark, src, dst)
    with _pytest.raises(FileNotFoundError):
        clone_versioned(spark, src, str(tmp_path / "d2"), version="v-9-x")

    # clone of a bucketed table keeps the layout sidecar + bucket dirs
    bsrc = str(tmp_path / "bsrc")
    upsert_parquet_versioned_partitioned(
        spark, bsrc, _pv(spark, 200), ["k"], n_buckets=4
    )
    bdst = str(tmp_path / "bdst")
    clone_versioned(spark, bsrc, bdst)
    assert read_versioned(spark, bdst).count() == 200
    # next upsert into the clone still prunes on the carried layout
    upsert_parquet_versioned_partitioned(
        spark, bdst, _pv(spark, 1, keyshift=3), ["k"], n_buckets=4
    )
    assert read_versioned(spark, bdst).count() == 200

    # --- restore: roll data back, keep replay protection
    t = str(tmp_path / "rst")
    upsert_parquet_versioned(
        spark, t, _pv(spark, 10), ["k"], keep_versions=3,
        txn_app_id="s", txn_version=0,
    )
    v1 = list_versions(t)[-1]
    upsert_parquet_versioned(
        spark, t, _pv(spark, 5, keyshift=100), ["k"], keep_versions=3,
        txn_app_id="s", txn_version=1,
    )
    assert read_versioned(spark, t).count() == 15
    out = restore_versioned(spark, t, v1, keep_versions=3)
    assert out.count() == 10  # data rolled back
    # watermark NOT rolled back: the replayed batch 1 stays a no-op
    assert txn_watermarks(t)["s"] == 1
    upsert_parquet_versioned(
        spark, t, _pv(spark, 5, keyshift=100), ["k"], keep_versions=3,
        txn_app_id="s", txn_version=1,
    )
    assert read_versioned(spark, t).count() == 10
    with _pytest.raises(FileNotFoundError):
        restore_versioned(spark, t, "v-000099-nope")


def test_delete_versioned_where_and_vacuum(spark, tmp_path):
    import os

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        delete_versioned_where,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
        vacuum_versioned,
    )
    from pyspark.sql import functions as F

    # predicate delete, plain layout; NULL predicate rows are KEPT
    t = str(tmp_path / "dw")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    upsert_parquet_versioned(spark, t, df, ["k"])
    out = delete_versioned_where(spark, t, "v > 25")
    got = {r.k for r in out.collect()}
    assert got == {1, 2}  # 3,4 deleted; NULL v kept (SQL DELETE semantics)

    # bucketed layout: rewrite preserves bucket dirs so later merges prune
    tp = str(tmp_path / "dwp")
    upsert_parquet_versioned_partitioned(
        spark, tp, _pv(spark, 200), ["k"], n_buckets=4
    )
    out = delete_versioned_where(spark, tp, F.col("v") == 0.0)
    assert out.filter("v = 0.0").count() == 0
    cur = list_versions(tp)[-1]
    assert any(d.startswith("upsert_bucket=")
               for d in os.listdir(os.path.join(tp, cur)))
    # replay protection works for predicate deletes too
    n = read_versioned(spark, tp).count()
    delete_versioned_where(spark, tp, "v = 1.0",
                           txn_app_id="w", txn_version=0)
    n2 = read_versioned(spark, tp).count()
    delete_versioned_where(spark, tp, "v = 2.0",
                           txn_app_id="w", txn_version=0)  # replayed id
    assert read_versioned(spark, tp).count() == n2 < n
    assert read_versioned(spark, tp).filter("v = 2.0").count() > 0

    # vacuum: crash debris (a v-dir sorting after CURRENT) is swept
    # after the grace window, CURRENT and retained history survive
    debris = os.path.join(t, "v-000099-deadbeef")
    os.makedirs(debris, exist_ok=True)
    rep = vacuum_versioned(t, grace_seconds=3600)  # too fresh: kept
    assert rep["removed"] == []
    rep = vacuum_versioned(t, grace_seconds=0)
    assert rep["removed"] == ["v-000099-deadbeef"]
    assert read_versioned(spark, t).count() == 2  # table intact
    # history trim via keep_versions
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(9, 9.0)], "k long, v double"),
        ["k"], keep_versions=5,
    )
    assert len(list_versions(t)) >= 2
    rep = vacuum_versioned(t, grace_seconds=0, keep_versions=1)
    assert len(list_versions(t)) == 1
    assert read_versioned(spark, t).count() == 3
    with _pytest.raises(FileNotFoundError):
        vacuum_versioned(str(tmp_path / "none"))


def test_delete_where_key_range_hint_prunes(spark, tmp_path):
    """The retention workload: DELETE WHERE k < cutoff with
    key_range=(-inf, cutoff) on a range-bucketed table must read and
    rewrite ONLY the intersecting buckets (rest hardlinked), and the
    hint's replaceWhere contract holds (rows outside the range are
    untouched even when the condition matches them)."""
    import math
    import os

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        delete_versioned_where,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned as up,
    )

    t = str(tmp_path / "ret")
    up(spark, t, _pv(spark, 2000), ["k"], n_buckets=8)
    v1 = list_versions(t)[-1]
    inos = {
        (d, f): os.stat(os.path.join(t, v1, d, f)).st_ino
        for d in os.listdir(os.path.join(t, v1))
        if d.startswith("upsert_bucket=")
        for f in os.listdir(os.path.join(t, v1, d))
        if not f.startswith((".", "_"))
    }
    # cutoff at ~12.5% of key space -> intersects bucket 0 (and maybe 1)
    out = delete_versioned_where(
        spark, t, "k < 250", key_range=(-math.inf, 250.0)
    )
    assert out.count() == 1750
    assert out.filter("k < 250").count() == 0
    v2 = list_versions(t)[-1]
    shared = sum(
        1 for (d, f), ino in inos.items()
        if os.path.exists(os.path.join(t, v2, d, f))
        and os.stat(os.path.join(t, v2, d, f)).st_ino == ino
    )
    assert shared >= 6, f"expected >=6 of 8 buckets hardlinked, got {shared}"

    # replaceWhere contract: condition matching OUTSIDE the hinted
    # range leaves those rows untouched
    before = read_versioned(spark, t).count()
    delete_versioned_where(spark, t, "k >= 0", key_range=(300.0, 310.0))
    after = read_versioned(spark, t)
    assert after.filter("k >= 1000").count() > 0  # far-range rows survive
    assert after.count() < before  # in-range rows went

    # guards: hint needs a range layout
    tq = str(tmp_path / "plain")
    upsert_parquet_versioned(spark, tq, _pv(spark, 10), ["k"])
    with _pytest.raises(ValueError, match="range-bucketed"):
        delete_versioned_where(spark, tq, "k < 5", key_range=(0.0, 5.0))
    with _pytest.raises(ValueError, match="hi >= lo"):
        delete_versioned_where(spark, t, "k < 5", key_range=(5.0, 0.0))


# ---------------------------------------------------------------------------
# Round-10 review fixes (code-review findings on inventory.py)
# ---------------------------------------------------------------------------


def test_first_write_dedupes_within_batch(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    t = str(tmp_path / "fw")
    out = upsert_parquet_versioned(spark, t, dup, ["k"])
    assert out.count() == 2  # one row per key from version 1
    tp = str(tmp_path / "fwp")
    out = upsert_parquet_versioned_partitioned(spark, tp, dup, ["k"],
                                               n_buckets=4)
    assert out.count() == 2
    td = str(tmp_path / "fwd")
    out = upsert_parquet(spark, td, dup, ["k"])
    assert out.count() == 2


def test_merge_upsert_reserved_columns_raise(spark):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import merge_upsert

    a = spark.createDataFrame([(1, 2)], "k long, _prio long")
    b = spark.createDataFrame([(1, 3)], "k long, _prio long")
    with _pytest.raises(ValueError, match="reserves columns"):
        merge_upsert(a, b, ["k"])


def test_watermarks_read_consistently_with_cas_base(spark, tmp_path):
    """A transactional writer's watermark must survive a concurrent
    non-transactional writer's conflicted-and-retried commit: the
    retry re-reads (base, marks) as one consistent pair."""
    import animaltrackingetls_spark.inventory as inv
    from animaltrackingetls_spark.inventory import (
        _read_commit_state,
        _txn_marks_of,
        read_versioned,
        txn_watermarks,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "wm")
    upsert_parquet_versioned(
        spark, t, _pv(spark, 5), ["k"], txn_app_id="s2", txn_version=3,
    )
    # direct helper contracts
    cur, marks = _read_commit_state(t)
    assert marks == {"s2": 3} and cur is not None
    import pytest as _pytest

    with _pytest.raises(inv.ConcurrentWriteError, match="vanished"):
        _txn_marks_of(t, "v-000099-gone")

    # interleave: writer A (non-txn) starts; before its publish, writer
    # B advances s2's watermark to 4. A must conflict, retry, and carry
    # B's NEW watermark forward - never regress it to 3.
    real_merge = inv.merge_upsert
    fired = {"done": False}

    def racing_merge(existing, updates, key_cols, **kw):
        if not fired["done"]:
            fired["done"] = True
            upsert_parquet_versioned(
                spark, t,
                spark.createDataFrame([(100, 1.0)], "k long, v double"),
                ["k"], txn_app_id="s2", txn_version=4,
            )
        return real_merge(existing, updates, key_cols, **kw)

    import pytest as _p
    mp = _p.MonkeyPatch()
    try:
        mp.setattr(inv, "merge_upsert", racing_merge)
        upsert_parquet_versioned(
            spark, t, spark.createDataFrame([(7, 9.0)], "k long, v double"),
            ["k"],
        )
    finally:
        mp.undo()
    assert txn_watermarks(t) == {"s2": 4}, "concurrent watermark regressed"
    got = {r.k for r in read_versioned(spark, t).collect()}
    assert {7, 100} <= got


def test_bucketed_schema_evolution_rewrites_all_buckets(spark, tmp_path):
    import os

    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned_partitioned as up,
    )

    t = str(tmp_path / "evob")
    up(spark, t, _pv(spark, 800), ["k"], n_buckets=4)
    v1 = list_versions(t)[-1]
    inos = {
        (d, f): os.stat(os.path.join(t, v1, d, f)).st_ino
        for d in os.listdir(os.path.join(t, v1))
        if d.startswith("upsert_bucket=")
        for f in os.listdir(os.path.join(t, v1, d))
        if not f.startswith((".", "_"))
    }
    widened = spark.createDataFrame([(3, 1.0, "x")],
                                    "k long, v double, tag string")
    out = up(spark, t, widened, ["k"], n_buckets=4, merge_schema=True)
    # evolved column visible EVERYWHERE, including rows whose bucket the
    # batch didn't touch
    assert out.filter("k = 700").select("tag").first()[0] is None
    assert out.filter("k = 3").select("tag").first()[0] == "x"
    # NO bucket was hardlinked: a mixed-schema snapshot is unreadable
    v2 = list_versions(t)[-1]
    shared = sum(
        1 for (d, f), ino in inos.items()
        if os.path.exists(os.path.join(t, v2, d, f))
        and os.stat(os.path.join(t, v2, d, f)).st_ino == ino
    )
    assert shared == 0, "schema evolution hardlinked old-schema buckets"
    # and a later NON-evolving one-key upsert hardlinks again
    up(spark, t, spark.createDataFrame([(3, 2.0, "y")],
                                       "k long, v double, tag string"),
       ["k"], n_buckets=4, merge_schema=True)
    v3 = list_versions(t)[-1]
    n_linked = sum(
        1
        for d in os.listdir(os.path.join(t, v3))
        if d.startswith("upsert_bucket=")
        for f in os.listdir(os.path.join(t, v3, d))
        if not f.startswith((".", "_"))
        and os.path.exists(os.path.join(t, v2, d, f))
        and os.stat(os.path.join(t, v3, d, f)).st_ino
        == os.stat(os.path.join(t, v2, d, f)).st_ino
    )
    assert n_linked >= 3


def test_delete_all_of_bucketed_table_refused(spark, tmp_path):
    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        delete_versioned_where,
        read_versioned,
        upsert_parquet_versioned_partitioned as up,
    )

    t = str(tmp_path / "brick")
    up(spark, t, _pv(spark, 50), ["k"], n_buckets=4)
    with _pytest.raises(ValueError, match="EVERY row"):
        delete_versioned(
            spark, t, spark.range(50).selectExpr("id AS k"), ["k"]
        )
    with _pytest.raises(ValueError, match="EVERY row"):
        delete_versioned_where(spark, t, "k >= 0")
    # the table is still healthy after the refusals
    assert read_versioned(spark, t).count() == 50


def test_retention_prune_ignores_crash_debris(spark, tmp_path):
    import os

    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
        vacuum_versioned,
    )

    t = str(tmp_path / "ledger")
    upsert_parquet_versioned(spark, t, _pv(spark, 5), ["k"],
                             keep_versions=2)
    upsert_parquet_versioned(spark, t, _pv(spark, 1, keyshift=50), ["k"],
                             keep_versions=2)
    v_prev = list_versions(t)[-1]
    # half-written crash debris sorting BETWEEN retained versions
    os.makedirs(os.path.join(t, "v-000003-deadbeef"), exist_ok=True)
    upsert_parquet_versioned(spark, t, _pv(spark, 1, keyshift=60), ["k"],
                             keep_versions=2)
    # the REAL previous snapshot survived retention; debris is excluded
    # from the retained list (not a time-travel target) but left on
    # disk for vacuum
    assert v_prev in list_versions(t)
    assert "v-000003-deadbeef" not in list_versions(t)
    assert os.path.isdir(os.path.join(t, "v-000003-deadbeef"))
    assert read_versioned(spark, t, v_prev).count() == 6
    # vacuum sweeps the not-in-ledger debris even though it sorts BELOW
    # the current version
    rep = vacuum_versioned(t, grace_seconds=0)
    assert "v-000003-deadbeef" in rep["removed"]
    assert read_versioned(spark, t).count() == 7


def test_upsert_dbapi_paramstyles(spark, tmp_path):
    import os
    import sqlite3

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import upsert_dbapi

    db = os.path.join(str(tmp_path), "ps.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE t (k TEXT PRIMARY KEY, v INTEGER)"
        )

    def factory(path=db):
        import sqlite3 as _s

        return _s.connect(path, timeout=30)

    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")\
        .coalesce(1)
    # sqlite accepts both qmark (default) and numeric styles
    upsert_dbapi(df, factory, "t", ["k"])
    upsert_dbapi(df.withColumn("v", F.col("v") + 10), factory, "t", ["k"],
                 paramstyle="numeric")
    with sqlite3.connect(db) as conn:
        rows = dict(conn.execute("SELECT k, v FROM t ORDER BY k").fetchall())
    assert rows == {"a": 11, "b": 12}
    with _pytest.raises(ValueError, match="paramstyle"):
        upsert_dbapi(df, factory, "t", ["k"], paramstyle="bogus")


def test_merge_schema_backfill_preserves_legit_null(spark):
    """The evolution back-fill must distinguish 'column absent from the
    batch' (existing value survives, even a NULL one) from 'column
    present with NULL' (NULL writes). The struct-wrapped first() makes
    an existing NULL survive as NULL rather than being skipped."""
    existing = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (3, "c", 7.0)],
        "k long, v string, score double",
    )
    updates = spark.createDataFrame([(1, "a2"), (2, "b2")],
                                    "k long, v string")
    out = merge_upsert(existing, updates, ["k"], merge_schema=True)
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    # 1: non-null survives; 2: legit NULL survives as NULL (not 7.0 or
    # some other row's value); 3: untouched
    assert rows == {1: ("a2", 5.0), 2: ("b2", None), 3: ("c", 7.0)}

    # column PRESENT but NULL-valued still writes NULL (no back-fill)
    updates2 = spark.createDataFrame([(1, "a3", None)],
                                     "k long, v string, score double")
    out = merge_upsert(existing, updates2, ["k"], merge_schema=True)
    rows = {r.k: (r.v, r.score) for r in out.collect()}
    assert rows[1] == ("a3", None)


def test_delete_versioned_null_keyed_rows(spark, tmp_path):
    """A NULL-keyed row can be upserted (null-safe merge), so it must be
    deletable: the delete's anti-join is eqNullSafe per key column —
    a plain equi join would silently no-op the erasure (round-10
    advisory). Covers both the plain and bucketed layouts."""
    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        read_versioned,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )

    base = spark.createDataFrame(
        [(1, "a"), (None, "nullkey"), (3, "c")], "k long, v string"
    )
    kill = spark.createDataFrame([(None,)], "k long")

    t = str(tmp_path / "plain")
    upsert_parquet_versioned(spark, t, base, ["k"])
    out = delete_versioned(spark, t, kill, ["k"])
    assert {r.v for r in out.collect()} == {"a", "c"}

    tp = str(tmp_path / "bucketed")
    upsert_parquet_versioned_partitioned(spark, tp, base, ["k"],
                                         n_buckets=4, scheme="hash")
    out = delete_versioned(spark, tp, kill, ["k"])
    assert {r.v for r in out.collect()} == {"a", "c"}
    # non-NULL keys still delete fine through the same condition
    out = delete_versioned(
        spark, tp, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    assert {r.v for r in out.collect()} == {"c"}


def test_upsert_retries_when_base_pruned_mid_merge(spark, tmp_path):
    """keep_versions=1 prunes the losing base IMMEDIATELY on publish, so
    a concurrent writer still scanning it mid-merge hits a scan-time
    file-not-found. The CAS retry loop must treat that as a conflict
    (re-merge from the new CURRENT), not surface a raw error — the
    round-10 advisory's liveness gap. Simulated deterministically: a
    'concurrent' winner publishes (and prunes) between this writer's
    commit-state read and its scan."""
    from animaltrackingetls_spark import inventory as inv

    t = str(tmp_path / "t")
    inv.upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(1, "a")], "k long, v string"),
        ["k"], keep_versions=1,
    )

    real = inv._read_commit_state
    state = {"fired": False}

    def hijack(table_dir):
        out = real(table_dir)
        if not state["fired"]:
            state["fired"] = True
            # the concurrent winner: publishes v2, retention prunes v1
            inv.upsert_parquet_versioned(
                spark, t,
                spark.createDataFrame([(2, "b")], "k long, v string"),
                ["k"], keep_versions=1,
            )
            return out  # STALE: names the just-pruned snapshot
        return out

    inv._read_commit_state = hijack
    try:
        out = inv.upsert_parquet_versioned(
            spark, t,
            spark.createDataFrame([(3, "c")], "k long, v string"),
            ["k"], keep_versions=1,
        )
    finally:
        inv._read_commit_state = real
    # liveness: the loser retried and BOTH commits landed
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_upsert_parquet_is_collect_free_and_staged(spark, tmp_path):
    """The plain upsert must not funnel the merged table through the
    driver (round-10 verdict task #5): a merge bigger than the driver
    allows still succeeds, the swap leaves a single parquet file, and
    no tmp debris survives a successful run."""
    import os

    path = str(tmp_path / "cat")
    n = 50_000  # >> any sane driver-collect catalog, cheap to shuffle
    base = spark.range(n).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    upd = spark.range(0, n, 2).selectExpr(
        "id AS k", "concat('u', CAST(id AS STRING)) AS v"
    )
    upsert_parquet(spark, path, base, ["k"])
    out = upsert_parquet(spark, path, upd, ["k"])
    assert out.count() == n
    got = {r.k: r.v for r in out.filter("k < 4").collect()}
    assert got == {0: "u0", 1: "1", 2: "u2", 3: "3"}
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1, files
    debris = [d for d in os.listdir(tmp_path) if ".tmp-" in d]
    assert debris == []


def test_manifest_layout_end_to_end(spark, tmp_path):
    """layout='manifest' (round-11 verdict task #3): untouched buckets
    are MANIFEST REFERENCES, not hardlinks — no physical duplication of
    directories — readers resolve through the manifest, retention
    keeps a pruned version's still-referenced bucket dirs alive, and
    VACUUM reclaims them once unreferenced."""
    import json
    import os

    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        list_versions,
        read_versioned,
        upsert_parquet_versioned_partitioned,
        vacuum_versioned,
    )

    t = str(tmp_path / "t")
    base = spark.range(80).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    upsert_parquet_versioned_partitioned(
        spark, t, base, ["k"], n_buckets=8, scheme="range",
        keep_versions=2, link_mode="manifest",
    )
    v1 = list_versions(t)[-1]
    assert os.path.exists(os.path.join(t, v1, "_manifest.json"))

    # localized batch touches ~1 bucket; the new version dir must hold
    # ONLY the rewritten bucket physically, the rest by reference
    upd = spark.createDataFrame([(1, "u1"), (2, "u2")], "k long, v string")
    upsert_parquet_versioned_partitioned(
        spark, t, upd, ["k"], n_buckets=8, scheme="range", keep_versions=2,
    )
    v2 = list_versions(t)[-1]
    v2_physical = [d for d in os.listdir(os.path.join(t, v2))
                   if d.startswith("upsert_bucket=")]
    assert len(v2_physical) <= 2, v2_physical  # rewritten buckets only
    with open(os.path.join(t, v2, "_manifest.json")) as f:
        m2 = json.load(f)
    assert len(m2) == 8
    assert sorted(set(m2.values())) == sorted({v1, v2})

    # reads resolve through the manifest
    rows = {r.k: r.v for r in read_versioned(spark, t).collect()}
    assert rows[1] == "u1" and rows[5] == "5" and len(rows) == 80

    # third upsert prunes v1 from history (keep_versions=2) — but v2's
    # (and v3's) manifests still reference v1's bucket dirs, so they
    # SURVIVE the prune and reads stay whole
    upd3 = spark.createDataFrame([(3, "u3")], "k long, v string")
    upsert_parquet_versioned_partitioned(
        spark, t, upd3, ["k"], n_buckets=8, scheme="range", keep_versions=2,
    )
    v3 = list_versions(t)[-1]
    assert list_versions(t) == [v2, v3]  # v1 out of history
    assert os.path.isdir(os.path.join(t, v1))  # ...but still backing refs
    assert not os.path.exists(os.path.join(t, v1, "_manifest.json"))
    rows = {r.k: r.v for r in read_versioned(spark, t).collect()}
    assert rows[3] == "u3" and rows[70] == "70" and len(rows) == 80

    # keyed delete keeps the manifest posture
    delete_versioned(
        spark, t, spark.createDataFrame([(70,)], "k long"), ["k"],
        keep_versions=2,
    )
    rows = {r.k: r.v for r in read_versioned(spark, t).collect()}
    assert 70 not in rows and len(rows) == 79

    # rewrite EVERY bucket -> nothing references v1 anymore; vacuum
    # reclaims the orphaned physical home (publish-time GC only visits
    # the version being pruned, so orphans are vacuum's job, like
    # Delta's VACUUM for unreferenced files)
    allrows = spark.range(80).selectExpr(
        "id AS k", "concat('w', CAST(id AS STRING)) AS v"
    )
    upsert_parquet_versioned_partitioned(
        spark, t, allrows, ["k"], n_buckets=8, scheme="range",
        keep_versions=1,
    )
    vacuum_versioned(t, grace_seconds=0.0)
    assert not os.path.exists(os.path.join(t, v1)), "orphan not reclaimed"
    rows = {r.k: r.v for r in read_versioned(spark, t).collect()}
    # the full rewrite re-inserted every key, including the deleted 70
    assert rows[0] == "w0" and rows[70] == "w70" and len(rows) == 80

    # link_mode is pinned: asking for the other mode on this table fails
    import pytest as _pytest

    with _pytest.raises(ValueError, match="layout mismatch"):
        upsert_parquet_versioned_partitioned(
            spark, t, upd, ["k"], n_buckets=8, scheme="range",
            link_mode="hardlink",
        )


def test_manifest_layout_clone_restore(spark, tmp_path):
    """CLONE of a manifest table materializes (cross-table references
    would dangle) and the clone evolves independently; RESTORE publishes
    a manifest-only version (zero data copied) whose reads equal the
    restored snapshot."""
    import os

    from animaltrackingetls_spark.inventory import (
        clone_versioned,
        list_versions,
        read_versioned,
        restore_versioned,
        upsert_parquet_versioned_partitioned,
    )

    t = str(tmp_path / "t")
    base = spark.range(40).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    upsert_parquet_versioned_partitioned(
        spark, t, base, ["k"], n_buckets=4, scheme="range",
        keep_versions=3, link_mode="manifest",
    )
    upsert_parquet_versioned_partitioned(
        spark, t, spark.createDataFrame([(1, "u1")], "k long, v string"),
        ["k"], n_buckets=4, scheme="range", keep_versions=3,
    )
    v1, v2 = list_versions(t)

    c = str(tmp_path / "clone")
    out = clone_versioned(spark, t, c)
    assert {r.k: r.v for r in out.collect()}[1] == "u1"
    # clone's v1 is materialized: no manifest, all buckets physical
    cv = list_versions(c)[0]
    assert not os.path.exists(os.path.join(c, cv, "_manifest.json"))

    # restore t to v1: manifest-only version, data equals the snapshot
    restore_versioned(spark, t, v1, keep_versions=3)
    v3 = list_versions(t)[-1]
    assert os.path.exists(os.path.join(t, v3, "_manifest.json"))
    phys = [d for d in os.listdir(os.path.join(t, v3))
            if d.startswith("upsert_bucket=")]
    assert phys == []  # zero data copied
    rows = {r.k: r.v for r in read_versioned(spark, t).collect()}
    assert rows[1] == "1" and len(rows) == 40


def test_optimize_versioned_zorder_both_layouts(spark, tmp_path):
    """OPTIMIZE ZORDER for versioned tables: data identical, watermarks
    carried (replay still no-ops), plain tables produce DISJOINT z
    ranges across files (repartitionByRange contract), bucketed tables
    keep their bucket dirs with rows z-sorted within each."""
    import os

    from pyspark.sql import functions as F

    from animaltrackingetls_spark.inventory import (
        list_versions,
        optimize_versioned,
        read_versioned,
        txn_watermarks,
        upsert_parquet_versioned,
        upsert_parquet_versioned_partitioned,
    )
    from animaltrackingetls_spark.operators.layout import zvalue_expr_nd

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 173).cast("double").alias("x"),
        ((F.col("id") * 7) % 311).cast("double").alias("y"),
    )

    # plain table
    t = str(tmp_path / "plain")
    upsert_parquet_versioned(spark, t, df, ["k"],
                             txn_app_id="w", txn_version=3)
    rep = optimize_versioned(spark, t, ["x", "y"],
                             target_bytes=64 * 1024)
    assert rep["optimized"] and rep["files_after"] > 1
    out = read_versioned(spark, t)
    assert out.count() == n
    assert txn_watermarks(t) == {"w": 3}  # carried through the rewrite
    # per-file z intervals are pairwise disjoint
    vdir = os.path.join(t, list_versions(t)[-1])
    ranges = [(0.0, 172.0), (0.0, 310.0)]
    z = zvalue_expr_nd([F.col("x"), F.col("y")], ranges)
    intervals = []
    for f in sorted(os.listdir(vdir)):
        if not f.endswith(".parquet"):
            continue
        r = (spark.read.parquet(os.path.join(vdir, f))
             .agg(F.min(z).alias("lo"), F.max(z).alias("hi")).first())
        intervals.append((r.lo, r.hi))
    intervals.sort()
    for (lo1, hi1), (lo2, hi2) in zip(intervals, intervals[1:]):
        assert hi1 <= lo2, f"overlapping z ranges: {intervals}"

    # bucketed (manifest) table: bucket dirs preserved, z-sorted within
    tb = str(tmp_path / "bucketed")
    upsert_parquet_versioned_partitioned(
        spark, tb, df, ["k"], n_buckets=4, scheme="range",
        link_mode="manifest",
    )
    rep = optimize_versioned(spark, tb, ["x", "y"])
    assert rep["optimized"]
    out = read_versioned(spark, tb)
    assert out.count() == n
    vdir = os.path.join(tb, list_versions(tb)[-1])
    bdirs = [d for d in os.listdir(vdir) if d.startswith("upsert_bucket=")]
    assert len(bdirs) == 4  # bucket layout intact
    one = os.path.join(vdir, bdirs[0])
    zvals = [
        r[0]
        for r in spark.read.parquet(one).select(z.alias("z")).collect()
    ]
    assert zvals == sorted(zvals), "rows not z-sorted within the bucket"
    # the bucketed table still reads/merges correctly afterwards
    upsert_parquet_versioned_partitioned(
        spark, tb, spark.createDataFrame([(1, -1.0, -1.0)],
                                         "k long, x double, y double"),
        ["k"], n_buckets=4, scheme="range",
    )
    assert read_versioned(spark, tb).filter("k = 1").first().x == -1.0

    import pytest as _pytest

    # a single column is VALID since round 12 (degenerates to a range
    # sort — disjoint per-file value ranges, strongest 1-D clustering)
    rep1 = optimize_versioned(spark, t, ["x"])
    assert rep1["optimized"]
    from animaltrackingetls_spark.filestats import read_stats
    from animaltrackingetls_spark.inventory import _current_version
    stats = read_stats(t, _current_version(t))
    spans = sorted(
        (e["cols"]["x"]["lo"], e["cols"]["x"]["hi"])
        for e in stats["files"].values() if "x" in e["cols"]
    )
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "1-col optimize must leave disjoint file ranges"
    with _pytest.raises(ValueError, match="at least one"):
        optimize_versioned(spark, t, [])
    with _pytest.raises(ValueError, match="lacks"):
        optimize_versioned(spark, t, ["x", "nope"])


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: each publish stamps a _committed_at sidecar
    under the commit lock; reads resolve the snapshot that was CURRENT
    at the asked time, retention bounds the past, the future reads
    CURRENT, and datetime/ISO forms are accepted."""
    import datetime
    import os
    import time

    import pytest as _pytest

    from animaltrackingetls_spark.inventory import (
        commit_timestamps,
        list_versions,
        read_versioned_as_of,
        upsert_parquet_versioned,
    )

    t = str(tmp_path / "t")

    def up(rows):
        upsert_parquet_versioned(
            spark, t, spark.createDataFrame(rows, "k long, v string"),
            ["k"], keep_versions=3,
        )

    t_before = time.time()
    time.sleep(0.02)
    up([(1, "a")])
    time.sleep(0.02)
    t_mid = time.time()
    time.sleep(0.02)
    up([(1, "b")])

    stamps = commit_timestamps(t)
    v1, v2 = list_versions(t)
    assert stamps[v1] < stamps[v2]  # monotonic along history
    assert os.path.exists(os.path.join(t, v2, "_committed_at"))

    assert read_versioned_as_of(spark, t, t_mid).first().v == "a"
    assert read_versioned_as_of(spark, t, time.time() + 60).first().v == "b"
    # datetime and ISO forms (UTC) resolve identically
    dt = datetime.datetime.fromtimestamp(t_mid, datetime.timezone.utc)
    assert read_versioned_as_of(spark, t, dt).first().v == "a"
    assert read_versioned_as_of(spark, t, dt.isoformat()).first().v == "a"
    with _pytest.raises(FileNotFoundError, match="retention"):
        read_versioned_as_of(spark, t, t_before)


# ---------------------------------------------------------------------------
# Round 14: MERGE ... WHEN MATCHED THEN DELETE (delete_keys) — one
# commit that upserts AND deletes.
# ---------------------------------------------------------------------------


def _mk_versioned(spark, tmp_path, name="mt", n=1000, **kw):
    from animaltrackingetls_spark.inventory import upsert_parquet_versioned

    t = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"),
        F.col("id").cast("double").alias("x"))
    upsert_parquet_versioned(spark, t, df, ["k"], keep_versions=10,
                             target_files=4, **kw)
    return t


@pytest.mark.parametrize("mode", ["plain", "cow"])
def test_merge_with_delete_keys_equals_sequential(spark, tmp_path, mode):
    """One combined commit == upsert-then-delete on a twin table, for
    every merge strategy; exactly one version published; a key in BOTH
    frames takes the upsert row."""
    from animaltrackingetls_spark.inventory import (
        delete_versioned,
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    kw = {"cow": mode == "cow"}
    t = _mk_versioned(spark, tmp_path, f"a_{mode}")
    t2 = _mk_versioned(spark, tmp_path, f"b_{mode}")
    ups = spark.createDataFrame(
        [(3, 9, 99.5), (2000, 9, 7.0), (10, 9, 1.0)],
        "k long, g long, x double")
    dks = spark.createDataFrame([(5,), (6,), (10,), (5000,)], "k long")

    n0 = len(list_versions(t))
    upsert_parquet_versioned(spark, t, ups, ["k"], keep_versions=10,
                             delete_keys=dks, **kw)
    assert len(list_versions(t)) == n0 + 1  # ONE commit

    delete_versioned(spark, t2, dks, ["k"], keep_versions=10)
    upsert_parquet_versioned(spark, t2, ups, ["k"], keep_versions=10)
    rows = lambda tb: sorted(  # noqa: E731
        tuple(r) for r in read_versioned(spark, tb)
        .select("k", "g", "x").collect())
    assert rows(t) == rows(t2)
    got = read_versioned(spark, t)
    assert got.filter("k in (5, 6)").count() == 0
    assert got.filter("k = 10").first().x == 1.0  # upsert wins over delete
    assert got.filter("k = 2000").count() == 1


def test_merge_with_delete_keys_replay_and_first_write(spark, tmp_path):
    from animaltrackingetls_spark.inventory import (
        list_versions,
        read_versioned,
        upsert_parquet_versioned,
    )

    # first write ignores delete_keys (nothing exists to delete)
    t = str(tmp_path / "fw")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x"))
    upsert_parquet_versioned(
        spark, t, df, ["k"], keep_versions=5,
        delete_keys=spark.createDataFrame([(1,)], "k long"))
    assert read_versioned(spark, t).count() == 10

    # watermark replay: the combined commit no-ops as one unit
    ups = spark.createDataFrame([(3, 9.0)], "k long, x double")
    dks = spark.createDataFrame([(4,)], "k long")
    upsert_parquet_versioned(spark, t, ups, ["k"], keep_versions=5,
                             delete_keys=dks, txn_app_id="m",
                             txn_version=1)
    n = len(list_versions(t))
    assert read_versioned(spark, t).count() == 9
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(5, 0.0)], "k long, x double"),
        ["k"], keep_versions=5,
        delete_keys=spark.createDataFrame([(6,)], "k long"),
        txn_app_id="m", txn_version=1)  # replay: full no-op
    assert len(list_versions(t)) == n
    got = read_versioned(spark, t)
    assert got.count() == 9
    assert got.filter("k = 6").count() == 1  # NOT deleted by the replay


@pytest.mark.parametrize("mode", ["plain"])
def test_merge_with_delete_keys_schema_evolution(spark, tmp_path, mode):
    """Round-14 review #1: a schema-evolving batch (merge_schema) in
    the same commit as delete_keys — the upsert rows carry the union
    schema while the surviving base keeps the old one."""
    from animaltrackingetls_spark.inventory import (
        read_versioned,
        upsert_parquet_versioned,
    )

    t = _mk_versioned(spark, tmp_path, f"se_{mode}")
    ups = spark.createDataFrame([(3, 9, 1.0, "new")],
                                "k long, g long, x double, extra string")
    dks = spark.createDataFrame([(5,)], "k long")
    upsert_parquet_versioned(
        spark, t, ups, ["k"], keep_versions=10, merge_schema=True,
        delete_keys=dks)
    r = read_versioned(spark, t)
    assert r.count() == 999 and "extra" in r.columns
    assert r.filter("k = 5").count() == 0
    assert r.filter("k = 3").first().extra == "new"
