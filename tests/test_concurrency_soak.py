"""True multi-process concurrency soak of the versioned layer (round
12, r11 verdict task #3).

The CAS paths were previously exercised with deterministic interleaves
and crash injection; this spawns REAL OS processes — each with its own
SparkSession/JVM — hammering one table (and one group) with overlapping
keyed upserts, and asserts the optimistic-concurrency contract held:

* zero lost updates: every writer's transactional watermark reached its
  final version (each commit either landed or was retried until it
  did), and every writer's PRIVATE key slice holds its LAST value;
* overlapping keys hold exactly one writer's last value (serialized,
  never torn);
* liveness: every process exits 0 within the timeout (no deadlock on
  the flock, no livelock in the retry loops).

Heavier than the rest of the suite (~4 extra JVMs per test, ~160 s of
wall clock total). Opt-in via SPARK_GRAFT_SLOW_TESTS=1 (r15 verdict
task #1: the driver's default verify window cannot afford them; the
CAS/OCC *logic* stays default-on through the deterministic interleave
and crash-injection tests in test_inventory/test_versioning, so a
concurrency-contract regression still fails the default run — this
file adds the real-OS-process scheduling dimension on top).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW_TESTS") != "1",
    reason="multi-JVM soak (~160s); opt in with SPARK_GRAFT_SLOW_TESTS=1",
)

from animaltrackingetls_spark.inventory import (
    group_state,
    read_versioned_group,
    txn_watermarks,
)

_WORKER = r'''
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from animaltrackingetls_spark.session import get_spark
from animaltrackingetls_spark.inventory import (
    upsert_parquet_versioned, upsert_group_versioned, optimize_versioned,
)

mode, table, wid, iters = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spark = get_spark(app_name=f"soak-{{mode}}-{{wid}}", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
for i in range(1, iters + 1):
    # 5 private keys (wid*100..) + 3 shared keys (9000..9002) per commit
    rows = [(wid * 100 + j, wid, i) for j in range(5)]
    rows += [(9000 + j, wid, i) for j in range(3)]
    df = spark.createDataFrame(rows, "k long, writer long, iter long")
    if mode == "plain":
        upsert_parquet_versioned(
            spark, table, df, ["k"], keep_versions=2,
            txn_app_id=f"w{{wid}}", txn_version=i, retries=30,
        )
        if wid == 0 and i == iters // 2:
            # housekeeping races the writers; conflict back-off is fine
            optimize_versioned(spark, table, ["k"], keep_versions=2)
    elif mode == "dv":
        # merge-on-read soak (round 15 — r14 verdict #6): MoR upsert
        # (DV's the matched preimages), then a DV delete of the
        # writer's own key 0 — both exercise _carry_dv under
        # concurrent CAS; auto_compact arms the density-triggered
        # REORG purge, and writer 0 fires an explicit purge mid-run
        from animaltrackingetls_spark.inventory import (
            delete_versioned, reorg_purge_versioned,
        )
        upsert_parquet_versioned(
            spark, table, df, ["k"], keep_versions=12, dv=True,
            txn_app_id=f"w{{wid}}", txn_version=i, retries=30,
            auto_compact=6,
        )
        delete_versioned(
            spark, table,
            spark.createDataFrame([(wid * 100,)], "k long"), ["k"],
            keep_versions=12, dv=True,
            txn_app_id=f"w{{wid}}#d", txn_version=i, retries=30,
        )
        if wid == 0 and i == iters // 2:
            # best-effort under contention: {{"conflict": True}} is fine
            reorg_purge_versioned(spark, table, keep_versions=12)
    else:
        upsert_group_versioned(
            spark, table,
            {{"a": (df, ["k"]),
              "b": (df.withColumnRenamed("iter", "it2"), ["k"])}},
            keep_versions=2,
            txn_app_id=f"w{{wid}}", txn_version=i, retries=30,
        )
print("WORKER_OK", wid)
'''


def _run_soak(mode: str, table: str, n_writers: int, iters: int):
    procs = []
    for wid in range(n_writers):
        procs.append(subprocess.Popen(
            [sys.executable, "-c", _WORKER.format(repo="/root/repo"),
             mode, table, str(wid), str(iters)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        ))
    outs = []
    for p in procs:
        out, _ = p.communicate(timeout=420)
        outs.append(out)
        assert p.returncode == 0, f"writer died:\n{out[-3000:]}"
        assert "WORKER_OK" in out
    return outs


def test_multiprocess_plain_table_soak(spark, tmp_path):
    t = str(tmp_path / "soak_plain")
    n, iters = 4, 4
    _run_soak("plain", t, n, iters)

    # zero lost updates: every writer's watermark reached its last commit
    marks = txn_watermarks(t)
    assert marks == {f"w{w}": iters for w in range(n)}, marks

    from animaltrackingetls_spark.inventory import read_versioned

    rows = {r["k"]: (r["writer"], r["iter"])
            for r in read_versioned(spark, t).collect()}
    # private slices: each writer's LAST value survived
    for w in range(n):
        for j in range(5):
            assert rows[w * 100 + j] == (w, iters), (w, j, rows.get(w * 100 + j))
    # shared keys: exactly one writer's final commit won, never torn
    for j in range(3):
        w, it = rows[9000 + j]
        assert 0 <= w < n and it == iters, rows[9000 + j]


def test_multiprocess_group_soak(spark, tmp_path):
    g = str(tmp_path / "soak_group")
    n, iters = 4, 3
    _run_soak("group", g, n, iters)

    st = group_state(g)
    assert st["marks"] == {f"w{w}": iters for w in range(n)}
    a = {r["k"]: (r["writer"], r["iter"])
         for r in read_versioned_group(spark, g, "a").collect()}
    b = {r["k"]: (r["writer"], r["it2"])
         for r in read_versioned_group(spark, g, "b").collect()}
    for w in range(n):
        for j in range(5):
            assert a[w * 100 + j] == (w, iters)
            assert b[w * 100 + j] == (w, iters)
    for j in range(3):
        # the group commit is atomic: BOTH members show the same winner
        assert a[9000 + j] == b[9000 + j]
        assert a[9000 + j][1] == iters


def test_multiprocess_dv_layer_soak(spark, tmp_path):
    """Round 15 (r14 verdict #6): the DV layer's CAS surface under
    REAL processes — two writers issue merge-on-read upserts + DV
    deletes (concurrent ``_carry_dv`` sidecar carries) while the
    density-triggered AND an explicit REORG purge race them.
    Invariants: every watermark (upsert AND delete app ids) reached its
    final version, each writer's key 0 is deleted and keys 1-4 hold its
    last value, and shared keys are serialized."""
    from animaltrackingetls_spark.inventory import read_versioned

    src = str(tmp_path / "soak_dv")

    n, iters = 2, 4
    writers = []
    for wid in range(n):
        writers.append(subprocess.Popen(
            [sys.executable, "-c", _WORKER.format(repo="/root/repo"),
             "dv", src, str(wid), str(iters)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        ))
    for p in writers:
        out, _ = p.communicate(timeout=420)
        assert p.returncode == 0 and "WORKER_OK" in out, out[-3000:]

    # zero lost updates across BOTH app-id families
    marks = txn_watermarks(src)
    for w in range(n):
        assert marks[f"w{w}"] == iters and marks[f"w{w}#d"] == iters, marks
    rows = {r["k"]: (r["writer"], r["iter"])
            for r in read_versioned(spark, src).collect()}
    for w in range(n):
        assert w * 100 not in rows, f"DV-deleted key resurrected: {w}"
        for j in range(1, 5):
            assert rows[w * 100 + j] == (w, iters), (w, j)
    for j in range(3):
        w, it = rows[9000 + j]
        assert 0 <= w < n and it == iters, rows[9000 + j]
