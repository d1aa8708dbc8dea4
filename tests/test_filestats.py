"""Per-file column statistics + data skipping (round 12).

The Delta/Iceberg data-skipping analog over the versioned layer:
publish-time footer stats (`filestats.py`), whole-file pruning in
`read_versioned(predicates=...)`, sidecar-backed physical identity for
the CDF's churn pruning, and file-level diff pruning on plain layouts.
Every pruned result is pinned EQUAL to its unpruned twin — pruning is
an optimization, never a semantics change.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark import filestats as fs
from animaltrackingetls_spark import inventory as inv
from animaltrackingetls_spark.operators import versioning as V


def _table(spark, tmp_path, name, n=20_000, target_files=6):
    t = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("g"),
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 7, "0"))
        .alias("s"),
    )
    inv.upsert_parquet_versioned(spark, t, df, ["k"],
                                 target_files=target_files)
    return t


# ---------------------------------------------------------------------------
# footer collection
# ---------------------------------------------------------------------------


def test_file_entry_types_and_nulls(spark, tmp_path):
    p = str(tmp_path / "one")
    rows = [
        (1, 2.5, "aa", dt.date(2024, 1, 3),
         dt.datetime(2024, 1, 3, 12, 0, 0), True),
        (9, None, "zz", dt.date(2024, 6, 1), None, False),
    ]
    spark.createDataFrame(
        rows, "i long, f double, s string, d date, t timestamp, b boolean"
    ).coalesce(1).write.parquet(p)
    f = [os.path.join(p, x) for x in os.listdir(p)
         if x.endswith(".parquet") or x.startswith("part-")][0]
    e = fs.file_entry(f)
    assert e["rows"] == 2
    c = e["cols"]
    assert c["i"] == {"t": "i", "lo": 1, "hi": 9, "nulls": 0}
    assert c["f"]["lo"] == 2.5 and c["f"]["hi"] == 2.5 and c["f"]["nulls"] == 1
    assert c["s"] == {"t": "s", "lo": "aa", "hi": "zz", "nulls": 0}
    assert c["d"]["t"] == "d" and c["d"]["lo"] == "2024-01-03"
    # Spark's default INT96 timestamp encoding carries NO parquet
    # statistics (legacy type) — the column is honestly un-statted,
    # never wrongly bounded
    assert "t" not in c
    assert c["b"] == {"t": "b", "lo": False, "hi": True, "nulls": 0}


def test_file_entry_timestamp_micros(spark, tmp_path):
    """With the modern TIMESTAMP_MICROS encoding, timestamp bounds ARE
    collected (pyarrow hands back tz-aware UTC datetimes; the sidecar
    stores naive-UTC ISO strings)."""
    p = str(tmp_path / "tsmicros")
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 3, 12, 0, 0),),
             (dt.datetime(2024, 2, 1, 0, 0, 0),)], "t timestamp"
        ).coalesce(1).write.parquet(p)
    finally:
        spark.conf.set(key, old)
    f = [os.path.join(p, x) for x in os.listdir(p)
         if x.startswith("part-")][0]
    c = fs.file_entry(f)["cols"]["t"]
    assert c["t"] == "t"
    assert c["lo"] == "2024-01-03T12:00:00"
    assert c["hi"] == "2024-02-01T00:00:00"
    # pruning compares in naive-UTC datetime space
    e = {"cols": {"t": c}}
    assert not fs.keep_file(
        e, fs._check_predicates([("t", "<", dt.datetime(2024, 1, 1))]))
    assert fs.keep_file(
        e, fs._check_predicates([("t", "<", dt.datetime(2024, 1, 10))]))


def test_keep_file_semantics():
    e = {"cols": {
        "k": {"t": "i", "lo": 100, "hi": 200, "nulls": 0},
        "x": {"t": "f", "lo": 1.0, "hi": 2.0, "nulls": 3},
        "s": {"t": "s", "lo": "bb", "hi": "dd", "nulls": 0},
    }}
    keep = lambda *preds: fs.keep_file(e, fs._check_predicates(list(preds)))
    # int: full two-sided pruning
    assert not keep(("k", "<", 100))
    assert keep(("k", "<=", 100))
    assert not keep(("k", ">", 200))
    assert keep(("k", ">=", 200))
    assert not keep(("k", "=", 99)) and not keep(("k", "=", 201))
    assert keep(("k", "=", 150))
    assert not keep(("k", "in", [1, 2, 300])) and keep(("k", "in", [1, 150]))
    # conjunctions: any failing predicate prunes
    assert not keep(("k", "=", 150), ("s", "=", "zz"))
    # strings
    assert not keep(("s", "<", "bb")) and keep(("s", "<=", "bb"))
    # floats: min-side + equality prune, max-side NEVER (Spark NaN order)
    assert not keep(("x", "<", 1.0))
    assert not keep(("x", "=", 0.5))
    assert keep(("x", ">", 2.0))       # NaN could be present and match
    assert keep(("x", ">=", 99.0))
    assert not keep(("x", "<=", 0.5))
    # NaN literal never prunes
    assert keep(("x", "=", float("nan")))
    # missing column / incomparable literal never prunes
    assert keep(("missing", "=", 1)) and keep(("k", "=", "not-an-int"))
    with pytest.raises(ValueError, match="unsupported predicate op"):
        keep(("k", "!=", 1))


# ---------------------------------------------------------------------------
# publish-time sidecars + pruned reads
# ---------------------------------------------------------------------------


def test_sidecar_written_and_pruned_read_exact(spark, tmp_path):
    t = _table(spark, tmp_path, "t1", n=60_000)
    v = inv._current_version(t)
    stats = fs.read_stats(t, v)
    assert stats is not None and len(stats["files"]) >= 2
    for e in stats["files"].values():
        assert {"rows", "size", "ino", "cols"} <= set(e)

    # cluster on (k, g) so the k predicate localizes to few files
    inv.optimize_versioned(spark, t, ["k", "g"], target_bytes=120_000)
    preds = [("k", "<", 500)]
    kept, total = inv.files_scanned(t, predicates=preds)
    assert total >= 4 and kept < total  # real whole-file skipping
    pruned = inv.read_versioned(spark, t, predicates=preds)
    full = inv.read_versioned(spark, t).filter(F.col("k") < 500)
    assert pruned.exceptAll(full).isEmpty()
    assert full.exceptAll(pruned).isEmpty()
    assert pruned.count() == 500


def test_missing_sidecar_is_never_an_error(spark, tmp_path):
    t = _table(spark, tmp_path, "t2", n=2_000, target_files=2)
    v = inv._current_version(t)
    os.unlink(os.path.join(t, v, fs.STATS_SIDECAR))
    kept, total = inv.files_scanned(t, predicates=[("k", "<", 10)])
    assert (kept, total) == (total, total)  # no stats -> no skipping
    got = inv.read_versioned(spark, t, predicates=[("k", "<", 10)])
    assert got.count() == 10  # residual filter keeps results exact


def test_float_nan_rows_survive_pruned_reads(spark, tmp_path):
    t = str(tmp_path / "nan")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 7, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double")).alias("x"),
    )
    inv.upsert_parquet_versioned(spark, t, df, ["k"], target_files=4)
    # Spark orders NaN above every double: x >= 1e9 matches ONLY the
    # NaN row. Max-side float pruning would skip its file; ours must not.
    got = inv.read_versioned(spark, t, predicates=[("x", ">=", 1e9)])
    assert [r["k"] for r in got.collect()] == [7]


def test_empty_prune_result_keeps_schema(spark, tmp_path):
    t = _table(spark, tmp_path, "t3", n=1_000, target_files=2)
    got = inv.read_versioned(spark, t, predicates=[("k", ">", 10**9)])
    assert got.count() == 0
    assert set(got.columns) == {"k", "g", "x", "s"}


# ---------------------------------------------------------------------------
# carry-forward + identity
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("link_mode", ["hardlink", "manifest"])
def test_bucketed_carry_forward_and_identity(spark, tmp_path, link_mode):
    t = str(tmp_path / f"b_{link_mode}")
    df = spark.range(0, 8_000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x"))
    kw = dict(n_buckets=8, keep_versions=4, link_mode=link_mode)
    inv.upsert_parquet_versioned_partitioned(spark, t, df, ["k"], **kw)
    upd = df.filter(F.col("k") == 0).withColumn("x", F.col("x") + 0.5)
    inv.upsert_parquet_versioned_partitioned(spark, t, upd, ["k"], **kw)
    v1, v2 = inv.list_versions(t)
    s1, s2 = fs.read_stats(t, v1), fs.read_stats(t, v2)
    # a one-key upsert rewrites exactly one bucket: every v1 file NOT
    # physically shared with v2 lives in that single bucket dir
    ident = lambda s: {
        (e["ino"], e["size"]) for e in s["files"].values()
    }
    shared = ident(s1) & ident(s2)
    stale_buckets = {
        k.split("/")[-2]
        for k, e in s1["files"].items()
        if (e["ino"], e["size"]) not in shared
    }
    assert len(stale_buckets) == 1

    # sidecar-backed identity == the walk's answer
    from_stats = inv._bucket_identity(t, v2)
    os.unlink(os.path.join(t, v2, fs.STATS_SIDECAR))
    walked = inv._bucket_identity(t, v2)
    assert from_stats == walked

    changed = inv.identity_changed_buckets(t, v1, v2)
    assert changed is not None and len(changed) == 1


def test_stats_roundtrip_clone_restore_optimize(spark, tmp_path):
    t = _table(spark, tmp_path, "rt", n=4_000, target_files=3)
    # CLONE: fresh sidecar under the clone's own version names
    c = str(tmp_path / "rt_clone")
    inv.clone_versioned(spark, t, c)
    cv = inv._current_version(c)
    cs = fs.read_stats(c, cv)
    assert cs is not None
    assert all(k.startswith(cv + "/") for k in cs["files"])
    got = inv.read_versioned(spark, c, predicates=[("k", "<", 100)])
    assert got.count() == 100

    # RESTORE: hardlinked files carry identity; zero-churn CDF proves it
    inv.upsert_parquet_versioned(
        spark, t,
        inv.read_versioned(spark, t).limit(0), ["k"], keep_versions=4)
    vs = inv.list_versions(t)
    inv.restore_versioned(spark, t, vs[0], keep_versions=4)
    vs = inv.list_versions(t)
    cf = inv.identity_changed_files(t, vs[0], vs[-1])
    assert cf == (set(), set())  # restore shares every file
    d = V.table_changes(spark, t, ["k"],
                        from_version=vs[0], to_version=vs[-1])
    assert d.count() == 0

    # OPTIMIZE: new files, fresh stats, pruned read exact
    inv.optimize_versioned(spark, t, ["k", "g"], target_bytes=100_000,
                           keep_versions=4)
    ov = inv._current_version(t)
    assert fs.read_stats(t, ov) is not None
    got = inv.read_versioned(spark, t, predicates=[("g", "=", 11)])
    full = inv.read_versioned(spark, t).filter(F.col("g") == 11)
    assert got.exceptAll(full).isEmpty() and full.exceptAll(got).isEmpty()


# ---------------------------------------------------------------------------
# file-level CDF pruning (plain layout)
# ---------------------------------------------------------------------------


def test_plain_file_pruned_diff_equals_full_diff(spark, tmp_path):
    """The exactness pin: table_changes through identity_changed_files
    equals the brute-force corpus_diff over full snapshot reads, on a
    lineage where snapshots genuinely share files (restore + upsert)."""
    t = _table(spark, tmp_path, "cdfp", n=6_000, target_files=4)
    inv.restore_versioned(spark, t, inv._current_version(t),
                          keep_versions=6)
    upd = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("g"),
        F.lit(-1.0).alias("x"), F.lit("upd").alias("s"))
    inv.upsert_parquet_versioned(spark, t, upd, ["k"], keep_versions=6)
    vs = inv.list_versions(t)
    v_old, v_new = vs[0], vs[-1]

    pruned = V.table_changes(spark, t, ["k"],
                             from_version=v_old, to_version=v_new)
    brute = V.corpus_diff(
        inv.read_versioned(spark, t, v_old),
        inv.read_versioned(spark, t, v_new), ["k"])
    assert pruned.exceptAll(brute).isEmpty()
    assert brute.exceptAll(pruned).isEmpty()
    assert pruned.filter(F.col("change") == "changed").count() == 20


# ---------------------------------------------------------------------------
# copy-on-write merge (round 12)
# ---------------------------------------------------------------------------


def _cow_table(spark, tmp_path, name, n=100_000, files=8):
    t = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("x"),
        F.md5(F.col("id").cast("string")).alias("p"),
    )
    inv.upsert_parquet_versioned(spark, t, df, ["k"],
                                 target_files=files, keep_versions=6)
    # key-clustered files so the CoW planner's stats phase localizes
    inv.optimize_versioned(spark, t, ["k", "x"],
                           target_bytes=700_000, keep_versions=6)
    return t


def test_cow_upsert_semantics_and_sharing(spark, tmp_path):
    t = _cow_table(spark, tmp_path, "cow1")
    v1 = inv._current_version(t)
    upd = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("x"),
        F.lit("u").alias("p"))
    new_keys = spark.range(200_000, 200_010).select(
        F.col("id").alias("k"), F.lit(9.0).alias("x"),
        F.lit("n").alias("p"))
    batch = upd.unionByName(new_keys)
    inv.upsert_parquet_versioned(spark, t, batch, ["k"],
                                 keep_versions=6, cow=True)
    v2 = inv._current_version(t)

    # exact merge semantics: pinned equal to the brute full merge
    got = inv.read_versioned(spark, t)
    brute = inv.merge_upsert(
        inv.read_versioned(spark, t, v1), batch, ["k"])
    assert got.exceptAll(brute).isEmpty()
    assert brute.exceptAll(got).isEmpty()
    assert got.count() == 100_010

    # physical sharing: only the churn's file neighborhood rewrote
    s1, s2 = fs.read_stats(t, v1), fs.read_stats(t, v2)
    ident = lambda s: {(e["ino"], e["size"]) for e in s["files"].values()}
    shared = ident(s1) & ident(s2)
    assert len(shared) >= len(s1["files"]) - 2  # 40 clustered keys ~ 1 file

    # which turns on plain-layout CDF churn pruning end to end
    cf = inv.identity_changed_files(t, v1, v2)
    assert cf is not None and len(cf[0]) <= 2
    d = V.table_changes(spark, t, ["k"], from_version=v1, to_version=v2)
    counts = {r["change"]: r["count"]
              for r in d.groupBy("change").count().collect()}
    assert counts == {"changed": 40, "added": 10}


def test_cow_upsert_null_key_not_lost(spark, tmp_path):
    t = str(tmp_path / "cownull")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "nul")], "k long, v string")
    inv.upsert_parquet_versioned(spark, t, base, ["k"], keep_versions=4)
    upd = spark.createDataFrame([(None, "NUL2")], "k long, v string")
    inv.upsert_parquet_versioned(spark, t, upd, ["k"],
                                 keep_versions=4, cow=True)
    rows = {r["v"] for r in inv.read_versioned(spark, t).collect()}
    assert rows == {"a", "b", "NUL2"}  # one NULL-keyed row, updated


def test_cow_schema_evolution_falls_back(spark, tmp_path):
    t = str(tmp_path / "cowevo")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    inv.upsert_parquet_versioned(spark, t, base, ["k"], keep_versions=4)
    upd = spark.createDataFrame([(2, "b", 7.5)],
                                "k long, v string, w double")
    inv.upsert_parquet_versioned(spark, t, upd, ["k"], keep_versions=4,
                                 cow=True, merge_schema=True)
    got = inv.read_versioned(spark, t)
    assert set(got.columns) == {"k", "v", "w"}
    assert got.count() == 2  # evolution full-rewrite, nothing lost


def test_cow_delete_semantics_and_sharing(spark, tmp_path):
    t = _cow_table(spark, tmp_path, "cowdel")
    v1 = inv._current_version(t)
    doomed = spark.range(10, 30).select(F.col("id").alias("k"))
    inv.delete_versioned(spark, t, doomed, ["k"],
                         keep_versions=6, cow=True)
    v2 = inv._current_version(t)
    got = inv.read_versioned(spark, t)
    assert got.count() == 100_000 - 20
    assert got.filter((F.col("k") >= 10) & (F.col("k") < 30)).count() == 0
    s1, s2 = fs.read_stats(t, v1), fs.read_stats(t, v2)
    ident = lambda s: {(e["ino"], e["size"]) for e in s["files"].values()}
    assert len(ident(s1) & ident(s2)) >= len(s1["files"]) - 2


def test_cow_manifest_mode_object_store_posture(spark, tmp_path):
    """Round-12: plain-table CoW without hardlinks — the new version
    publishes a FILE manifest referencing untouched files in their
    origin version dirs (what S3/GCS need). Covers: reads resolve
    across version dirs, retention reference-counts carried files,
    RESTORE is manifest-only, CLONE materializes, compaction
    re-materializes, and the mode pin rejects a mismatch."""
    import shutil

    t = str(tmp_path / "cowm")
    df = spark.range(0, 40_000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x"))
    inv.upsert_parquet_versioned(spark, t, df, ["k"], target_files=6,
                                 keep_versions=2, link_mode="manifest")
    inv.optimize_versioned(spark, t, ["k"], target_bytes=200_000,
                           keep_versions=2)
    v_base = inv._current_version(t)

    upd = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("x"))
    inv.upsert_parquet_versioned(spark, t, upd, ["k"],
                                 keep_versions=2, cow=True)
    v_cow = inv._current_version(t)

    # the CoW version dir holds ONLY the rewritten files + the manifest
    vdir = os.path.join(t, v_cow)
    data_files = [f for f in os.listdir(vdir)
                  if not f.startswith((".", "_"))]
    m = inv._read_manifest(t, v_cow)
    assert m is not None and inv._is_file_manifest(m)
    carried = {k for k, o in m.items() if o != v_cow}
    assert carried and len(data_files) < len(m)
    # physically, carried files are NOT in the new dir (no links)
    assert all(os.path.basename(k) not in data_files for k in carried)

    # reads resolve across version dirs and match the brute merge
    got = inv.read_versioned(spark, t)
    brute = inv.merge_upsert(
        inv.read_versioned(spark, t, v_base), upd, ["k"])
    assert got.exceptAll(brute).isEmpty()
    assert brute.exceptAll(got).isEmpty()

    # predicates / data skipping work through the manifest
    assert inv.read_versioned(
        spark, t, predicates=[("k", "<", 10)]).count() == 10

    # retention reference-counting: another CoW commit prunes v_base
    # from history (keep_versions=2), but its files are still
    # referenced by manifests — reads must keep working
    upd2 = spark.range(30, 60).select(
        F.col("id").alias("k"), F.lit(-2.0).alias("x"))
    inv.upsert_parquet_versioned(spark, t, upd2, ["k"],
                                 keep_versions=2, cow=True)
    assert v_base not in inv.list_versions(t)
    assert inv.read_versioned(spark, t).count() == 40_000
    assert inv.read_versioned(spark, t).filter(
        F.col("x") == -2.0).count() == 30

    # zero-copy RESTORE on the manifest table: new version is
    # manifest-only and byte-equal to the restored snapshot
    vs = inv.list_versions(t)
    inv.restore_versioned(spark, t, vs[0], keep_versions=3)
    rv = inv._current_version(t)
    assert inv._is_file_manifest(inv._read_manifest(t, rv))
    a = inv.read_versioned(spark, t, vs[0])
    b = inv.read_versioned(spark, t)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # CLONE materializes (no cross-table dangling references)
    c = str(tmp_path / "cowm_clone")
    inv.clone_versioned(spark, t, c)
    cv = inv._current_version(c)
    assert inv._read_manifest(c, cv) is None  # fully materialized
    assert inv.read_versioned(spark, c).count() == 40_000

    # compaction re-materializes the snapshot (rewrite carries nothing)
    rep = inv.compact_versioned(spark, t, target_bytes=10**9,
                                keep_versions=2)
    assert rep["compacted"]
    assert inv._read_manifest(t, inv._current_version(t)) is None
    assert inv.read_versioned(spark, t).count() == 40_000

    # the pin is enforced
    import pytest as _pytest
    with _pytest.raises(ValueError, match="pinned 'manifest'"):
        inv.upsert_parquet_versioned(spark, t, upd, ["k"],
                                     link_mode="hardlink")


def test_cow_manifest_vacuum_reference_counting(spark, tmp_path):
    """VACUUM keeps files a retained manifest still references and
    reclaims genuinely orphaned ones, same contract as the bucketed
    manifests."""
    t = str(tmp_path / "cowv")
    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x"))
    inv.upsert_parquet_versioned(spark, t, df, ["k"], target_files=4,
                                 keep_versions=1, link_mode="manifest")
    inv.optimize_versioned(spark, t, ["k"], target_bytes=100_000,
                           keep_versions=2)
    v_base = inv._current_version(t)
    upd = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("x"))
    inv.upsert_parquet_versioned(spark, t, upd, ["k"],
                                 keep_versions=1, cow=True)
    # keep_versions=1 pruned v_base from history, but the CoW manifest
    # still references most of its files: the prune's _gc_version kept
    # them (dir survives partially) and reads stay whole
    assert v_base not in inv.list_versions(t)
    assert os.path.isdir(os.path.join(t, v_base))
    assert inv.read_versioned(spark, t).count() == 20_000
    # vacuum with history trim to 1 must ALSO keep referenced files
    inv.vacuum_versioned(t, grace_seconds=0, keep_versions=1)
    assert inv.read_versioned(spark, t).count() == 20_000


# ---------------------------------------------------------------------------
# null-count pruning (round-13: IS NULL / IS NOT NULL / all-NULL files)
# ---------------------------------------------------------------------------


def test_keep_file_null_count_semantics():
    e = {"rows": 100, "cols": {
        "full": {"t": "i", "lo": 1, "hi": 9, "nulls": 0},
        "some": {"t": "i", "lo": 1, "hi": 9, "nulls": 40},
        "all_null": {"t": None, "lo": None, "hi": None, "nulls": 100},
    }}
    keep = lambda *p: fs.keep_file(e, fs._check_predicates(list(p)))
    # IS NULL: zero-null file is provably irrelevant
    assert not keep(("full", "is_null", None))
    assert keep(("some", "is_null", None))
    assert keep(("all_null", "is_null", None))
    # IS NOT NULL: all-NULL file is provably irrelevant
    assert keep(("full", "is_not_null", None))
    assert keep(("some", "is_not_null", None))
    assert not keep(("all_null", "is_not_null", None))
    # comparisons skip an all-NULL file outright
    assert not keep(("all_null", "=", 5))
    assert not keep(("all_null", "<", 5))
    assert not keep(("all_null", "in", [1, 2]))
    # missing column stats never prune
    assert keep(("missing", "is_null", None))
    assert keep(("missing", "is_not_null", None))
    # legacy sidecars without a rows field: null ops fall back safely
    legacy = {"cols": {"c": {"t": "i", "lo": 1, "hi": 2, "nulls": 2}}}
    assert fs.keep_file(legacy, fs._check_predicates(
        [("c", "is_not_null", None)]))
    with pytest.raises(ValueError, match="takes value=None"):
        keep(("full", "is_null", 1))


def test_file_entry_all_null_column(spark, tmp_path):
    p = str(tmp_path / "allnull")
    spark.createDataFrame(
        [(1, None), (2, None)], "k long, v string"
    ).coalesce(1).write.parquet(p)
    f = [os.path.join(p, x) for x in os.listdir(p)
         if x.startswith("part-")][0]
    e = fs.file_entry(f)
    # the all-NULL column keeps a bound-less entry with its null count
    assert e["cols"]["v"] == {"t": None, "lo": None, "hi": None,
                              "nulls": 2}
    assert e["cols"]["k"]["nulls"] == 0


def test_null_pruned_reads_exact_and_fewer_files(spark, tmp_path):
    """A sparse column (non-NULL only in a narrow key range) after
    clustering: IS NOT NULL opens a fraction of the files, IS NULL
    skips the dense files, and both pruned reads equal their unpruned
    twins exactly."""
    t = str(tmp_path / "sparse")
    df = spark.range(0, 60_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 20_000, F.col("id").cast("double"))
        .alias("x"),  # non-NULL in the low third only
    )
    inv.upsert_parquet_versioned(spark, t, df, ["k"], target_files=6)
    inv.optimize_versioned(spark, t, ["k"], target_bytes=60_000)

    kept_nn, total = inv.files_scanned(
        t, predicates=[("x", "is_not_null", None)])
    assert total >= 4 and kept_nn < total  # all-NULL files skipped

    pruned = inv.read_versioned(
        spark, t, predicates=[("x", "is_not_null", None)])
    full = inv.read_versioned(spark, t).filter(F.col("x").isNotNull())
    assert pruned.exceptAll(full).isEmpty()
    assert full.exceptAll(pruned).isEmpty()
    assert pruned.count() == 20_000

    kept_n, _ = inv.files_scanned(t, predicates=[("x", "is_null", None)])
    assert kept_n < total  # zero-null (fully populated) files skipped
    got_null = inv.read_versioned(
        spark, t, predicates=[("x", "is_null", None)])
    assert got_null.count() == 40_000

    # conjunction with a comparison still exact
    both = inv.read_versioned(
        spark, t, predicates=[("x", "is_not_null", None), ("k", "<", 100)])
    assert both.count() == 100


def test_describe_files_metadata_table(spark, tmp_path):
    """Iceberg's `files` metadata table analog: per-file bytes/rows/
    stats from sidecars only (no Spark job to answer)."""
    import json

    from pyspark.sql import Row

    path = str(tmp_path / "f")
    inv.upsert_parquet_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id=i, qty=i * 2) for i in range(1, 9)]
        ).repartition(2),
        ["id"], target_files=2, keep_versions=4,
    )
    rows = inv.describe_files(spark, path).collect()
    assert len(rows) >= 1
    assert sum(r.rows for r in rows) == 8
    assert all(r.bytes > 0 for r in rows)
    stats = json.loads(rows[0].column_stats)
    assert "id" in stats and "lo" in stats["id"]
    inv.delete_versioned(
        spark, path, spark.createDataFrame([Row(id=3)]), ["id"],
        keep_versions=4,
    )
    assert sum(r.rows for r in inv.describe_files(spark, path).collect()) == 7
    # retained older version still answers; unknown version raises
    first = inv.list_versions(path)[0]
    assert sum(r.rows for r in
               inv.describe_files(spark, path, first).collect()) == 8
    with pytest.raises(FileNotFoundError):
        inv.describe_files(spark, path, "v-999999-deadbeef")
