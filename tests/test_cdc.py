"""Write-time change-data capture (cdc.py) — the Delta
``enableChangeDataFeed`` analog: logged-at-commit change rows, pinned
EQUAL to the derived snapshot-diff feed, plus the native Structured
Streaming source over them."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.cdc import (
    CHANGE_TYPE_COL,
    COMMIT_SEQ_COL,
    cdc_enabled,
    change_log,
    read_change_data,
    read_changes_stream,
    resolve_cdc,
)
from animaltrackingetls_spark.inventory import (
    clone_versioned,
    compact_versioned,
    delete_versioned,
    delete_versioned_where,
    list_versions,
    optimize_versioned,
    read_versioned,
    restore_versioned,
    upsert_parquet_versioned,
    upsert_parquet_versioned_partitioned,
)
from animaltrackingetls_spark.operators.versioning import table_changes

# logged _change_type -> derived corpus_diff change tag
_TO_DERIVED = {
    "insert": "added",
    "update_postimage": "changed",
    "delete": "removed",
}


def _rows(df, *cols):
    # repr-keyed: NULL keys sort stably (None < int is a TypeError)
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()), key=repr
    )


def _logged_vs_derived(spark, tdir, key_cols, from_v, to_v):
    """Pin the LOGGED feed's classification equal to the DERIVED diff
    over the same commit window: same keys, same change tags (pre-images
    excluded — the derived feed has no pre-image concept)."""
    logged = read_change_data(spark, tdir, from_v, to_v)
    derived = table_changes(spark, tdir, key_cols, from_v, to_v)
    got = sorted(
        (
            (tuple(r[k] for k in key_cols),
             _TO_DERIVED[r[CHANGE_TYPE_COL]])
            for r in logged.filter(
                F.col(CHANGE_TYPE_COL) != "update_preimage"
            ).collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            (tuple(r[k] for k in key_cols), r["change"])
            for r in derived.collect()
        ),
        key=repr,
    )
    assert got == want
    return logged


@pytest.fixture()
def base_batches(spark):
    b1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (None, "n", 0.0)],
        "k int, v string, x double",
    )
    # update k=2, NO-OP k=3, insert k=4, update the NULL key
    b2 = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 30.0), (4, "d", 40.0), (None, "N", 0.0)],
        "k int, v string, x double",
    )
    return b1, b2


def _writer_variants():
    def plain(spark, tdir, df, key_cols, **kw):
        return upsert_parquet_versioned(spark, tdir, df, key_cols,
                                        keep_versions=10, **kw)

    def cow(spark, tdir, df, key_cols, **kw):
        return upsert_parquet_versioned(spark, tdir, df, key_cols,
                                        keep_versions=10, cow=True, **kw)

    def cow_manifest(spark, tdir, df, key_cols, **kw):
        return upsert_parquet_versioned(
            spark, tdir, df, key_cols, keep_versions=10, cow=True,
            link_mode="manifest", **kw,
        )

    def bucketed(spark, tdir, df, key_cols, **kw):
        return upsert_parquet_versioned_partitioned(
            spark, tdir, df, key_cols, n_buckets=4, scheme="hash",
            keep_versions=10, **kw,
        )

    return [("plain", plain), ("cow", cow),
            ("cow_manifest", cow_manifest), ("bucketed", bucketed)]


@pytest.mark.parametrize("name,writer", _writer_variants())
def test_upsert_logging_matches_derived_feed(
    spark, tmp_path, base_batches, name, writer
):
    tdir = str(tmp_path / name)
    b1, b2 = base_batches
    writer(spark, tdir, b1, ["k"], write_change_data=True)
    v1 = list_versions(tdir)[-1]
    writer(spark, tdir, b2, ["k"])  # pin inherited
    v2 = list_versions(tdir)[-1]

    # creation commit: every row logs as insert (the derived feed can
    # never reconstruct this once the empty pre-image is gone)
    creation = read_change_data(spark, tdir, to_version=v1)
    assert _rows(creation, CHANGE_TYPE_COL) == [("insert",)] * 4

    logged = _logged_vs_derived(spark, tdir, ["k"], v1, v2)
    by_type = {
        r[0]: r[1]
        for r in logged.groupBy(CHANGE_TYPE_COL).count().collect()
    }
    # k=2 and NULL-key update (pre+post each), k=4 insert, k=3 silent
    assert by_type == {
        "insert": 1, "update_preimage": 2, "update_postimage": 2,
    }
    pre = logged.filter(F.col(CHANGE_TYPE_COL) == "update_preimage")
    assert _rows(pre, "k", "v") == [(2, "b"), (None, "n")]
    post = logged.filter(F.col(CHANGE_TYPE_COL) == "update_postimage")
    assert _rows(post, "k", "v") == [(2, "B"), (None, "N")]
    # table data itself is untouched by logging
    assert _rows(read_versioned(spark, tdir), "k", "v") == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d"), (None, "N"),
    ]


@pytest.mark.parametrize(
    "cow,kwargs", [(False, {}), (True, {}), (True, {"link_mode": "manifest"})]
)
def test_delete_logging(spark, tmp_path, base_batches, cow, kwargs):
    tdir = str(tmp_path / "t")
    b1, _ = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True, cow=cow, **kwargs)
    v1 = list_versions(tdir)[-1]
    doomed = spark.createDataFrame([(1,), (None,), (99,)], "k int")
    delete_versioned(spark, tdir, doomed, ["k"], keep_versions=10, cow=cow)
    v2 = list_versions(tdir)[-1]
    logged = _logged_vs_derived(spark, tdir, ["k"], v1, v2)
    # full pre-image rows, NULL key included, absent key (99) no-ops
    assert _rows(logged, "k", "v", CHANGE_TYPE_COL) == [
        (1, "a", "delete"), (None, "n", "delete"),
    ]


def test_delete_where_logging_bucketed(spark, tmp_path):
    tdir = str(tmp_path / "t")
    rows = [(i, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, x double")
    upsert_parquet_versioned_partitioned(
        spark, tdir, df, ["k"], n_buckets=4, scheme="range",
        keep_versions=10, write_change_data=True,
    )
    v1 = list_versions(tdir)[-1]
    delete_versioned_where(spark, tdir, "x >= 35.0", keep_versions=10)
    v2 = list_versions(tdir)[-1]
    logged = _logged_vs_derived(spark, tdir, ["k"], v1, v2)
    assert _rows(logged, "k", CHANGE_TYPE_COL) == [
        (k, "delete") for k in range(35, 40)
    ]


def test_maintenance_logs_empty_and_restore_is_a_hole(
    spark, tmp_path, base_batches
):
    tdir = str(tmp_path / "t")
    b1, _ = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True, cow=True)
    v1 = list_versions(tdir)[-1]
    # pure-insert CoW commits ACCRETE files (rewrite one, carry the
    # rest) — the exact state compaction exists for
    for lo in (10, 20):
        ins = spark.createDataFrame(
            [(lo + i, "z", 1.0) for i in range(3)],
            "k int, v string, x double",
        )
        upsert_parquet_versioned(spark, tdir, ins, ["k"],
                                 keep_versions=10, cow=True)
    rep = compact_versioned(spark, tdir, keep_versions=10)
    assert rep["compacted"]
    v_compact = list_versions(tdir)[-1]
    assert change_log(tdir, v_compact) == []  # logged, provably empty
    optimize_versioned(spark, tdir, ["k"], keep_versions=10)
    v_opt = list_versions(tdir)[-1]
    assert change_log(tdir, v_opt) == []
    # the whole window (seq 2..5) reads through maintenance commits
    # without holes; only the data commits (seq 2,3) contribute rows
    feed = read_change_data(spark, tdir, from_version=v1)
    assert sorted(
        r[0] for r in feed.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [2, 3]

    restore_versioned(spark, tdir, v1, keep_versions=10)
    v_restore = list_versions(tdir)[-1]
    # RESTORE is an honest hole: no marker, and no stale _changes files
    # dragged along from the restored version's own log
    assert change_log(tdir, v_restore) is None
    assert not os.path.exists(
        os.path.join(tdir, v_restore, "_changes")
    )
    with pytest.raises(FileNotFoundError, match="hole"):
        read_change_data(spark, tdir, from_version=v1)
    skipped = read_change_data(spark, tdir, from_version=v1,
                               on_missing="skip")
    assert sorted(
        r[0] for r in skipped.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [2, 3]


def test_pin_semantics(spark, tmp_path, base_batches):
    tdir = str(tmp_path / "t")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10)
    v1 = list_versions(tdir)[-1]
    assert not cdc_enabled(tdir)
    assert change_log(tdir, v1) is None
    # pin mid-life: later commits log, the pre-pin commit is a hole
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                             write_change_data=True)
    assert cdc_enabled(tdir)
    assert change_log(tdir, list_versions(tdir)[-1]) is not None
    with pytest.raises(FileNotFoundError, match="hole"):
        read_change_data(spark, tdir)
    # explicit off on a pinned table refuses (a silent feed hole)
    with pytest.raises(ValueError, match="pinned"):
        upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                                 write_change_data=False)
    # resolve is idempotent
    assert resolve_cdc(tdir, True) and resolve_cdc(tdir, None)


def test_schema_evolution_pads_nulls(spark, tmp_path):
    tdir = str(tmp_path / "t")
    b1 = spark.createDataFrame([(1, "a")], "k int, v string")
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    b2 = spark.createDataFrame([(1, "a", 5), (2, "b", 7)],
                               "k int, v string, extra int")
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                             merge_schema=True)
    feed = read_change_data(spark, tdir)
    assert "extra" in feed.columns
    # the evolved batch: k=1 CHANGES (extra back-fills NULL->5, same
    # semantics as the derived feed's union-schema diff), k=2 inserts;
    # the creation commit's row pads extra as NULL
    assert _rows(feed, COMMIT_SEQ_COL, "k", "extra", CHANGE_TYPE_COL) == [
        (1, 1, None, "insert"),
        (2, 1, 5, "update_postimage"),
        (2, 1, None, "update_preimage"),
        (2, 2, 7, "insert"),
    ]


def test_read_window_and_retention(spark, tmp_path, base_batches):
    tdir = str(tmp_path / "t")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=2,
                             write_change_data=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=2)
    upsert_parquet_versioned(
        spark, tdir,
        spark.createDataFrame([(5, "e", 1.0)], "k int, v string, x double"),
        ["k"], keep_versions=2,
    )  # prunes v1
    versions = list_versions(tdir)
    assert len(versions) == 2
    with pytest.raises(FileNotFoundError, match="not retained"):
        read_change_data(spark, tdir, from_version="v-000001-deadbeef")
    # defaults cover every RETAINED commit
    feed = read_change_data(spark, tdir)
    assert sorted(
        r[0] for r in feed.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [2, 3]
    # empty window returns a typed empty frame
    empty = read_change_data(spark, tdir, versions[-1], versions[-1])
    assert empty.count() == 0
    assert CHANGE_TYPE_COL in empty.columns


def test_clone_carries_pin_not_logs(spark, tmp_path, base_batches):
    tdir, cdir = str(tmp_path / "t"), str(tmp_path / "c")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    clone_versioned(spark, tdir, cdir)
    assert cdc_enabled(cdir)
    cv1 = list_versions(cdir)[0]
    assert change_log(cdir, cv1) is None  # clone v1 is a hole
    assert not os.path.exists(os.path.join(cdir, cv1, "_changes"))
    upsert_parquet_versioned(spark, cdir, b2, ["k"], keep_versions=10)
    logged = read_change_data(spark, cdir, from_version=cv1)
    assert logged.count() > 0


def test_changes_invisible_to_snapshot_machinery(spark, tmp_path,
                                                 base_batches):
    """The _changes sidecar dir must never surface as data: snapshot
    reads, file stats, CoW planning, and compaction sizing all ignore
    it."""
    from animaltrackingetls_spark import filestats
    from animaltrackingetls_spark.inventory import _snapshot_files

    tdir = str(tmp_path / "t")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True, cow=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                             cow=True)
    v2 = list_versions(tdir)[-1]
    files = _snapshot_files(tdir, v2)
    assert all("_changes" not in k for k in files)
    stats = filestats.read_stats(tdir, v2)
    assert stats and all("_changes" not in k for k in stats["files"])
    assert _rows(read_versioned(spark, tdir), "k", "v") == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d"), (None, "N"),
    ]


def test_marker_lists_real_files(spark, tmp_path, base_batches):
    tdir = str(tmp_path / "t")
    b1, _ = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    v1 = list_versions(tdir)[-1]
    with open(os.path.join(tdir, v1, "_changes.json")) as f:
        marker = json.load(f)
    assert marker["files"]
    for p in change_log(tdir, v1):
        assert os.path.isfile(p)


def test_cdc_log_reclassifies_on_cas_retry(spark, tmp_path, monkeypatch):
    """A CAS-losing writer's retry must RE-LOG against the new base:
    the winning concurrent commit's value is the preimage, not the
    stale base the first attempt merged — and the losing attempt's
    change log dies with its version directory."""
    import animaltrackingetls_spark.inventory as inv

    t = str(tmp_path / "race")
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(1, "a")], "k int, v string"),
        ["k"], keep_versions=10, write_change_data=True,
    )
    real_publish = inv._publish_version

    def racing_publish(table_dir, version, marks, keep_versions, **kw):
        monkeypatch.setattr(inv, "_publish_version", real_publish)
        upsert_parquet_versioned(
            spark, t,
            spark.createDataFrame([(1, "bee")], "k int, v string"), ["k"],
            keep_versions=10,
        )
        return real_publish(table_dir, version, marks, keep_versions, **kw)

    monkeypatch.setattr(inv, "_publish_version", racing_publish)
    upsert_parquet_versioned(
        spark, t, spark.createDataFrame([(1, "ay")], "k int, v string"),
        ["k"], keep_versions=10, retries=2,
    )
    vs = list_versions(t)
    assert len(vs) == 3  # base, interleaved winner, retried commit
    final = read_change_data(spark, t, vs[-2], vs[-1])
    pre = {r.v for r in final.filter(
        F.col(CHANGE_TYPE_COL) == "update_preimage").collect()}
    post = {r.v for r in final.filter(
        F.col(CHANGE_TYPE_COL) == "update_postimage").collect()}
    assert pre == {"bee"} and post == {"ay"}  # reclassified, not stale
    # every retained version's log is consistent with its own commit
    mid = read_change_data(spark, t, vs[0], vs[-2])
    assert {r.v for r in mid.filter(
        F.col(CHANGE_TYPE_COL) == "update_preimage").collect()} == {"a"}


def test_group_commit_logs_pinned_members(spark, tmp_path):
    """Group-committed members log change data when their table dir is
    CDC-pinned: upsert classification + delete preimages in one log;
    unpinned members stay silent."""
    from animaltrackingetls_spark.inventory import upsert_group_versioned

    g = str(tmp_path / "grp")
    docs, bands = os.path.join(g, "docs"), os.path.join(g, "bands")
    resolve_cdc(docs, True)  # pin ONE member before its first commit
    b1 = {
        "docs": (spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"), ["k"]),
        "bands": (spark.createDataFrame(
            [(10, 1), (11, 2)], "band int, k int"), ["band", "k"]),
    }
    upsert_group_versioned(spark, g, b1, keep_versions=10)
    # batch 2: update k=2, insert k=3, delete k=1 — atomically
    b2 = {
        "docs": (spark.createDataFrame(
            [(2, "B"), (3, "c")], "k int, v string"), ["k"]),
    }
    dels = {"docs": spark.createDataFrame([(1,)], "k int")}
    upsert_group_versioned(spark, g, b2, keep_versions=10, deletes=dels)

    v1, v2 = list_versions(docs)
    assert change_log(docs, v1) is not None
    logged = read_change_data(spark, docs, v1, v2)
    assert _rows(logged, "k", CHANGE_TYPE_COL) == [
        (1, "delete"), (2, "update_postimage"), (2, "update_preimage"),
        (3, "insert"),
    ]
    # classification equals the derived feed over the same window
    _logged_vs_derived(spark, docs, ["k"], v1, v2)
    # the unpinned member logged nothing
    assert change_log(bands, list_versions(bands)[-1]) is None


# ----------------------------------------------------- streaming source


def test_stream_availablenow_and_exactly_once_restart(
    spark, tmp_path, base_batches
):
    tdir = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10)

    def drain():
        q = (
            read_changes_stream(spark, tdir, starting="earliest")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    assert got.count() == 4 + 5  # 4 creation inserts + (1 ins, 2x2 upd)
    # new commits land; the restart reads ONLY them (offset checkpoint)
    delete_versioned(spark, tdir, spark.createDataFrame([(1,)], "k int"),
                     ["k"], keep_versions=10)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert _rows(
        got.filter(F.col(CHANGE_TYPE_COL) == "delete"), "k", "v"
    ) == [(1, "a")]
    # exactly once: no commit seq appears with duplicated rows
    per_seq = _rows(got.groupBy(COMMIT_SEQ_COL).count(), COMMIT_SEQ_COL,
                    "count")
    assert per_seq == [(1, 4), (2, 5), (3, 1)]


def test_stream_starting_latest_sees_only_new(spark, tmp_path,
                                              base_batches):
    tdir = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10)

    def drain():
        q = (
            read_changes_stream(spark, tdir)  # latest (resolved at start)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    # first start: offset = current seq (2) -> NOTHING replayed
    drain()
    assert spark.read.parquet(out).count() == 0  # empty sink batch only
    # a commit after the checkpoint exists IS seen (latest only skips
    # history before the FIRST start)
    delete_versioned(spark, tdir, spark.createDataFrame([(1,)], "k int"),
                     ["k"], keep_versions=10)
    drain()
    got = spark.read.parquet(out)
    assert sorted(
        r[0] for r in got.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [3]


def test_stream_hole_fails_and_skip_reads_past(spark, tmp_path,
                                               base_batches):
    tdir = str(tmp_path / "t")
    b1, b2 = base_batches
    # v1 unlogged (pre-pin), v2 logged
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                             write_change_data=True)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        read_changes_stream(spark, tdir, starting="earliest")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="no change data"):
        q.awaitTermination(120)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = (
        read_changes_stream(spark, tdir, starting="earliest",
                            on_missing="skip")
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(out2)
    assert sorted(
        r[0] for r in got.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [2]


def test_stream_rate_limit_offsets(spark, tmp_path, base_batches):
    """maxCommitsPerTrigger caps latestOffset at (last planned range's
    end + N) once an anchor exists; the first range after a (re)start
    is uncapped by API construction (latestOffset receives no start)."""
    from animaltrackingetls_spark.cdc import _stream_reader_cls

    tdir = str(tmp_path / "t")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    for _ in range(4):
        upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10)
    ds_cls = _stream_reader_cls()
    ds = ds_cls(options={"path": tdir, "startingversion": "earliest",
                         "maxcommitspertrigger": "1"})
    reader = ds.streamReader(ds.schema())
    assert reader.initialOffset() == {"seq": 0}
    # no anchor yet: uncapped (current seq = 5)
    assert reader.latestOffset() == {"seq": 5}
    # plan a range; the next latestOffset caps at its end + 1
    parts = reader.partitions({"seq": 0}, {"seq": 1})
    assert parts  # the creation commit's change files
    assert reader.latestOffset() == {"seq": 2}
    reader.partitions({"seq": 1}, {"seq": 2})
    assert reader.latestOffset() == {"seq": 3}
    # never beyond CURRENT
    reader.partitions({"seq": 2}, {"seq": 5})
    assert reader.latestOffset() == {"seq": 5}
    with pytest.raises(ValueError, match="maxCommitsPerTrigger"):
        bad = ds_cls(options={"path": tdir, "maxcommitspertrigger": "0"})
        bad.streamReader(bad.schema())


def test_stream_starting_explicit_seq(spark, tmp_path, base_batches):
    tdir = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10)
    q = (
        read_changes_stream(spark, tdir, starting=2)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(
        r[0] for r in got.select(COMMIT_SEQ_COL).distinct().collect()
    ) == [2]


def test_read_change_data_empty_window_without_current(spark, tmp_path):
    """Round-12 ADVICE #3: the empty-window typed fallback must not
    need a _CURRENT pointer — group-member dirs publish through the
    group pointer and have none. A window whose commits all logged
    empty change sets returns an empty, correctly-typed frame."""
    tdir = str(tmp_path / "t")
    for k in (1, 2, 3):
        upsert_parquet_versioned(
            spark, tdir,
            spark.createDataFrame([(k, "a", 1.0)],
                                  "k int, v string, x double"),
            ["k"], keep_versions=10, write_change_data=True, cow=True,
        )
    v1 = list_versions(tdir)[-1]
    rep = compact_versioned(spark, tdir, keep_versions=10)
    assert rep["compacted"]
    v2 = list_versions(tdir)[-1]
    assert change_log(tdir, v2) == []  # provably-empty logged commit
    vs = list_versions(tdir)
    os.remove(os.path.join(tdir, "_CURRENT"))  # now a member-like dir

    feed = read_change_data(spark, tdir, v1, v2, versions=vs)
    assert feed.count() == 0
    cols = set(feed.columns)
    assert {"k", "v", "x", CHANGE_TYPE_COL, COMMIT_SEQ_COL,
            "_commit_version"} <= cols


def test_changes_stream_paths_transport(spark, tmp_path, base_batches):
    """transport='paths': the stream carries one row per change FILE;
    expand_change_paths turns a batch into the exact change rows via
    JVM parquet scans — equal to the batch read_change_data feed."""
    from animaltrackingetls_spark.cdc import (
        CHANGE_PATH_COL,
        expand_change_paths,
    )

    tdir = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    b1, b2 = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10)

    raw_cols = {}

    def sink(bdf, bid):
        raw_cols["cols"] = bdf.columns
        rows = expand_change_paths(bdf.sparkSession, bdf, tdir)
        rows.write.mode("append").parquet(out)

    q = (
        read_changes_stream(spark, tdir, starting="earliest",
                            transport="paths")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    # the raw stream is metadata-only (no data columns crossed Python)
    assert set(raw_cols["cols"]) == {
        CHANGE_PATH_COL, COMMIT_SEQ_COL, "_commit_version",
    }
    got = _rows(spark.read.parquet(out),
                "k", "v", "x", CHANGE_TYPE_COL, COMMIT_SEQ_COL)
    want = _rows(read_change_data(spark, tdir),
                 "k", "v", "x", CHANGE_TYPE_COL, COMMIT_SEQ_COL)
    assert got == want


def test_expand_change_paths_empty_batch(spark, tmp_path, base_batches):
    from animaltrackingetls_spark.cdc import expand_change_paths

    tdir = str(tmp_path / "t")
    b1, _ = base_batches
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    empty = spark.createDataFrame(
        [], "_cf_path string, _commit_seq long, _commit_version string")
    got = expand_change_paths(spark, empty, tdir)
    assert got.count() == 0
    assert {CHANGE_TYPE_COL, COMMIT_SEQ_COL} <= set(got.columns)


def test_expand_change_paths_type_widening(spark, tmp_path):
    """Round-14 advisory: a type-widening merge_schema commit (float→
    double) leaves older change files with the NARROW physical type;
    the single pinned scan can't promise the upcast, so the paths
    transport must detect the footer drift and fall back to per-commit
    expansion — coerced to the pinned (widened) types, equal to the
    batch feed."""
    from animaltrackingetls_spark.cdc import (
        _footer_type_drift,
        expand_change_paths,
    )

    tdir = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    b1 = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, x float")
    upsert_parquet_versioned(spark, tdir, b1, ["k"], keep_versions=10,
                             write_change_data=True)
    b2 = spark.createDataFrame([(2, 9.25), (3, 3.5)], "k long, x double")
    upsert_parquet_versioned(spark, tdir, b2, ["k"], keep_versions=10,
                             merge_schema=True)
    # the first commit's change file really is narrow vs the pinned
    # schema (else this test pins nothing)
    from animaltrackingetls_spark.cdc import _changes_arrow_schema

    target = _changes_arrow_schema(tdir)
    old_files = change_log(tdir, list_versions(tdir)[0])
    assert any(_footer_type_drift(p, target) for p in old_files)

    def sink(bdf, bid):
        rows = expand_change_paths(bdf.sparkSession, bdf, tdir)
        rows.write.mode("append").parquet(out)

    q = (
        read_changes_stream(spark, tdir, starting="earliest",
                            transport="paths")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got_df = spark.read.parquet(out)
    # widened everywhere: the expansion coerced the narrow files up
    assert dict(got_df.dtypes)["x"] == "double"
    got = _rows(got_df, "k", "x", CHANGE_TYPE_COL, COMMIT_SEQ_COL)
    want = _rows(read_change_data(spark, tdir),
                 "k", "x", CHANGE_TYPE_COL, COMMIT_SEQ_COL)
    assert got == want
