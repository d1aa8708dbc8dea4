"""True multi-process concurrency soak of the versioned layer (round
12, r11 verdict task #3).

The CAS paths were previously exercised with deterministic interleaves
and crash injection; this spawns REAL OS processes — each with its own
SparkSession/JVM — hammering one table with overlapping keyed
upserts, and asserts the optimistic-concurrency contract held:

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

from animaltrackingetls_spark.inventory import txn_watermarks

_WORKER = r'''
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from animaltrackingetls_spark.session import get_spark
from animaltrackingetls_spark.inventory import (
    upsert_parquet_versioned, optimize_versioned,
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
    upsert_parquet_versioned(
        spark, table, df, ["k"], keep_versions=2,
        txn_app_id=f"w{{wid}}", txn_version=i, retries=30,
    )
    if wid == 0 and i == iters // 2:
        # housekeeping races the writers; conflict back-off is fine
        optimize_versioned(spark, table, ["k"], keep_versions=2)
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
