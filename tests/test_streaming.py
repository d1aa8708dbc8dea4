"""Streaming jobs: windowed counts parity with batch, stream dedup."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.streaming import (
    read_event_stream,
    run_available_now_to_memory,
    stream_dedup,
    windowed_event_counts,
)


def _write_events(spark, path):
    rows = [
        (i, datetime.datetime(2024, 1, 1, i % 5, 10), i % 3, "click" if i % 2 else "view",
         float(i), "{}")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    df.write.mode("overwrite").parquet(path)
    return df


def test_windowed_counts_match_batch(spark, tmp_path):
    path = str(tmp_path / "ev")
    batch = _write_events(spark, path)
    stream = read_event_stream(spark, path)
    # complete mode: emit every window, incl. ones the watermark hasn't
    # closed (append mode would hold the tail windows back in state)
    run_available_now_to_memory(
        windowed_event_counts(stream, "1 hour"), "t_wc", output_mode="complete"
    )
    got = {
        (r.window_start, r.event_type): r.n_events for r in spark.table("t_wc").collect()
    }
    expected = {
        (r.ws, r.event_type): r.n for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_running_user_totals_stateful(spark, tmp_path):
    from animaltrackingetls_spark.streaming import running_user_totals

    path = str(tmp_path / "ev3")
    batch = _write_events(spark, path)
    stream = read_event_stream(spark, path)
    run_available_now_to_memory(
        running_user_totals(stream), "t_rt", output_mode="update"
    )
    # final state per user must equal the batch aggregate
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("t_rt").collect()
    }
    expected = {
        r.user_id: (r.n, round(r.s, 6))
        for r in batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        ).collect()
    }
    assert got == expected


def test_stream_dedup_drops_repeats(spark, tmp_path):
    path = str(tmp_path / "ev2")
    rows = [(1, datetime.datetime(2024, 1, 1, 0, 0), 1, "a", 1.0, "{}")] * 3 + [
        (2, datetime.datetime(2024, 1, 1, 0, 1), 1, "b", 1.0, "{}")
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    ).write.mode("overwrite").parquet(path)
    stream = read_event_stream(spark, path)
    run_available_now_to_memory(stream_dedup(stream), "t_dd")
    assert sorted(r.event_id for r in spark.table("t_dd").collect()) == [1, 2]


def test_parquet_sink_matches_batch_and_rerun_is_idempotent(spark, tmp_path):
    from animaltrackingetls_spark.streaming import run_available_now_to_parquet

    src = str(tmp_path / "ev_pq")
    batch = _write_events(spark, src)
    out = str(tmp_path / "wc_out")

    def drain(checkpoint):
        stream = read_event_stream(spark, src)
        agg = windowed_event_counts(stream, "1 hour").withColumn(
            "window_date", F.to_date("window_start")
        )
        run_available_now_to_parquet(
            agg, out, checkpoint, partition_cols=["window_date"],
            output_mode="complete",
        )

    drain(str(tmp_path / "ckpt1"))
    expected = {
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
        .collect()
    }
    got1 = {
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == expected

    # re-run from a FRESH checkpoint: dynamic partition overwrite must
    # replace each window's partition, not append a second copy
    drain(str(tmp_path / "ckpt2"))
    got2 = {
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == expected
    n_rows = spark.read.parquet(out).count()
    assert n_rows == len(expected)  # no duplicated rows after re-run


def test_stream_static_enrich_matches_batch_join(spark, tmp_path):
    from animaltrackingetls_spark.streaming import (
        run_available_now_to_memory,
        stream_static_enrich,
    )

    src = str(tmp_path / "ev_enrich")
    batch = _write_events(spark, src)
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro")], "user_id long, tier string"
    )  # user 2 deliberately absent: left join must keep it with NULL tier
    stream = read_event_stream(spark, src)
    enriched = stream_static_enrich(stream, dim).select(
        "event_id", "user_id", "tier"
    )
    run_available_now_to_memory(enriched, "t_enrich")
    got = {
        (r.event_id, r.user_id, r.tier)
        for r in spark.table("t_enrich").collect()
    }
    expected = {
        (r.event_id, r.user_id, r.tier)
        for r in batch.join(dim, "user_id", "left").select(
            "event_id", "user_id", "tier"
        ).collect()
    }
    assert got == expected
    assert any(t is None for _e, _u, t in got)  # unmatched users survive


def test_parquet_sink_update_mode_replaces_reopened_window(spark, tmp_path):
    import datetime

    from animaltrackingetls_spark.streaming import run_available_now_to_parquet

    src = tmp_path / "ev_late"
    out = str(tmp_path / "wc_late_out")
    ckpt = str(tmp_path / "ckpt_late")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def drain():
        stream = read_event_stream(spark, str(src))
        agg = windowed_event_counts(stream, "1 hour").withColumn(
            "window_date", F.to_date("window_start")
        )
        run_available_now_to_parquet(
            agg, out, ckpt, partition_cols=["window_date"],
            output_mode="update",
            unique_key_cols=["window_start", "event_type"],
        )

    t = datetime.datetime(2024, 1, 1, 10, 30)
    # 'view' shares the partition (same window date) but never updates:
    # the keyed merge must carry it through every rewrite
    spark.createDataFrame(
        [(1, t, 1, "click", 1.0, "{}"), (2, t, 1, "click", 2.0, "{}"),
         (9, t, 2, "view", 9.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    first = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert first[(datetime.datetime(2024, 1, 1, 10, 0), "click")] == 2

    # LATE data lands in the already-emitted 10:00 window; the same
    # checkpoint resumes, ONLY the click group re-emits, and the keyed
    # merge replaces it without dropping the untouched view neighbor
    spark.createDataFrame(
        [(3, t + datetime.timedelta(minutes=10), 1, "click", 3.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    rows = spark.read.parquet(out).filter("event_type = 'click'").collect()
    assert len(rows) == 1  # replaced, not appended
    assert rows[0].n_events == 3
    views = spark.read.parquet(out).filter("event_type = 'view'").collect()
    assert len(views) == 1 and views[0].n_events == 1  # neighbor survives


def test_parquet_sink_update_mode_requires_keys(spark, tmp_path):
    from animaltrackingetls_spark.streaming import run_available_now_to_parquet

    src = str(tmp_path / "rk_src")
    spark.createDataFrame([(1,)], "a long").write.parquet(src)
    stream = spark.readStream.schema("a long").parquet(src)
    with pytest.raises(ValueError, match="unique_key_cols"):
        run_available_now_to_parquet(
            stream, str(tmp_path / "o"), str(tmp_path / "c"),
            output_mode="update",
        )


def test_streaming_inventory_registration_accumulates_counts(spark, tmp_path):
    import datetime

    from animaltrackingetls_spark.streaming import (
        run_available_now_register_inventory,
    )

    src = tmp_path / "ev_inv"
    inv = str(tmp_path / "inventory")
    ckpt = str(tmp_path / "ckpt_inv")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d1 = datetime.datetime(2024, 5, 1, 9, 0)
    d2 = datetime.datetime(2024, 5, 2, 9, 0)

    def drain():
        stream = read_event_stream(spark, str(src))
        run_available_now_register_inventory(
            stream, inv, ckpt, processed_at="2024-05-02 12:00:00"
        )

    spark.createDataFrame(
        [(1, d1, 1, "click", 1.0, "{}"), (2, d1, 2, "view", 1.0, "{}"),
         (3, d2, 1, "click", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got = {
        str(r.available_date): (r.table_name, r.record_count)
        for r in spark.read.parquet(inv).collect()
    }
    assert got["2024-05-01"] == ("may012024", 2)
    assert got["2024-05-02"] == ("may022024", 1)

    # second landing: counts ADD for existing days, new days appear
    spark.createDataFrame(
        [(4, d1, 3, "click", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got = {
        str(r.available_date): r.record_count
        for r in spark.read.parquet(inv).collect()
    }
    assert got["2024-05-01"] == 3  # 2 + 1 incremental
    assert got["2024-05-02"] == 1  # untouched day unchanged


def test_streaming_histogram_rollup_accumulates_to_direct(spark, tmp_path):
    """Two landings drained separately must produce the same persisted
    bin vectors as one direct histogram over all the data — the
    mergeability identity carried into the streaming sink."""
    import datetime

    from animaltrackingetls_spark.operators.aggregates import histogram_rollup
    from animaltrackingetls_spark.streaming.jobs import (
        run_available_now_histogram_rollup,
    )

    src = tmp_path / "ev_hist"
    roll = str(tmp_path / "hist_rollup")
    ckpt = str(tmp_path / "ckpt_hist")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 5, 1, 9, 0)

    def drain():
        stream = read_event_stream(spark, str(src))
        run_available_now_histogram_rollup(
            stream, roll, ckpt, lo=0.0, hi=100.0, n_bins=10
        )

    batch1 = [(i, t0, i, "click" if i % 2 else "view", float(i % 100), "{}")
              for i in range(200)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    batch2 = [(1000 + i, t0, i, "click", float((i * 7) % 100), "{}")
              for i in range(100)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()

    streamed = {r.event_type: (r.bins, r.n)
                for r in spark.read.parquet(roll).collect()}
    alldata = spark.createDataFrame(batch1 + batch2, schema)
    direct = {r.event_type: (r.bins, r.n)
              for r in histogram_rollup(alldata, ["event_type"], "value",
                                        lo=0.0, hi=100.0, n_bins=10).collect()}
    assert streamed == direct


def test_running_user_totals_tws_matches_classic_and_batch(spark, tmp_path):
    """The transformWithStateInPandas form must reach the same final
    per-user state as both the applyInPandasWithState form and the
    plain batch aggregate over the same landings."""
    import pytest as _pytest

    _pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas's Python state server needs "
               "protobuf, not shipped in this container (re-checked "
               "round 15: pip install still fails DNS resolution to the "
               "index, no vendored wheel on disk — environment-bound)",
    )
    from animaltrackingetls_spark.streaming import running_user_totals
    from animaltrackingetls_spark.streaming.jobs import running_user_totals_tws

    path = str(tmp_path / "ev_tws")
    batch = _write_events(spark, path)

    stream = read_event_stream(spark, path)
    run_available_now_to_memory(
        running_user_totals_tws(stream), "t_tws", output_mode="update"
    )
    got = {r.user_id: (r.n_events, r.total_value)
           for r in spark.table("t_tws").collect()}

    stream2 = read_event_stream(spark, path)
    run_available_now_to_memory(
        running_user_totals(stream2), "t_cls", output_mode="update"
    )
    classic = {r.user_id: (r.n_events, r.total_value)
               for r in spark.table("t_cls").collect()}
    expected = {
        r.user_id: (r.n, round(r.s, 6))
        for r in batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        ).collect()
    }
    assert got == expected == classic


def test_stream_stream_join_matches_batch_interval_join(spark, tmp_path):
    """Inner watermarked stream-stream join == the batch interval join:
    every (signup, later purchase within 1h, same user) pair, no extras,
    no misses — including a purchase with NO prior signup (absent) and a
    signup outside the gap (absent)."""
    from animaltrackingetls_spark.streaming import (
        run_available_now_to_memory,
        stream_stream_join,
    )

    src = str(tmp_path / "ev_ssj")
    batch = _write_events(spark, src)
    stream_l = read_event_stream(spark, src).filter(
        F.col("event_type") == "view"
    ).select("event_id", "ts", "user_id")
    stream_r = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("event_id_r"),
            F.col("ts").alias("ts_r"),
            "user_id",
        )
    )
    pairs = stream_stream_join(
        stream_l, stream_r, max_gap_seconds=3600
    ).select("event_id", "event_id_r")
    run_available_now_to_memory(pairs, "t_ssj", output_mode="append")
    got = {(r.event_id, r.event_id_r) for r in spark.table("t_ssj").collect()}

    l = batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("lid"), F.col("ts").alias("lts"), "user_id"
    )
    r = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("rid"), F.col("ts").alias("rts"), "user_id"
    )
    expected = {
        (row.lid, row.rid)
        for row in l.join(r, "user_id")
        .filter(
            (F.col("lts") <= F.col("rts"))
            & (F.col("lts") >= F.col("rts") - F.expr("INTERVAL 3600 SECONDS"))
        )
        .collect()
    }
    assert got == expected
    assert expected  # non-degenerate: the fixture must produce matches


def test_sliding_window_counts_match_batch(spark, tmp_path):
    """1h windows sliding every 30min: every event lands in exactly two
    windows; totals match the batch double-bucket expansion."""
    path = str(tmp_path / "ev_slide")
    batch = _write_events(spark, path)
    stream = read_event_stream(spark, path)
    run_available_now_to_memory(
        windowed_event_counts(stream, "1 hour", slide="30 minutes"),
        "t_swc",
        output_mode="complete",
    )
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("t_swc").collect()
    }
    b = batch.select(
        F.explode(
            F.array(
                F.date_trunc("hour", "ts"),
                F.when(
                    F.minute("ts") >= 30,
                    F.date_trunc("hour", "ts") + F.expr("INTERVAL 30 MINUTES"),
                ).otherwise(F.date_trunc("hour", "ts") - F.expr("INTERVAL 30 MINUTES")),
            )
        ).alias("ws"),
        "event_type",
    )
    expected = {
        (r.ws, r.event_type): r.n
        for r in b.groupBy("ws", "event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected
    # each event in exactly 2 windows
    assert sum(got.values()) == 2 * batch.count()


def test_stream_stream_left_outer_availablenow_emits_inner_subset(spark, tmp_path):
    """Pin the availableNow outer-join tail behavior: unmatched left
    rows NULL-pad only on a trigger AFTER the watermark passes them, and
    an AvailableNow drain ends with no such trigger — so the outer form
    yields exactly the inner pairs here. This is a Spark semantics
    edge, not an operator bug; continuous triggers emit the tail."""
    import datetime

    from animaltrackingetls_spark.streaming import (
        run_available_now_to_memory,
        stream_stream_join,
    )

    src = str(tmp_path / "ev_ossj")
    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    rows1 = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0, 2, "view", 1.0, "{}"),  # never matches any click
        (3, t0 + datetime.timedelta(minutes=10), 1, "click", 1.0, "{}"),
    ]
    rows2 = [(9, t0 + datetime.timedelta(hours=50), 9, "view", 1.0, "{}")]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    for rows in (rows1, rows2):  # two files → two micro-batches
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    l = read_event_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("event_type") == "view"
    ).select("event_id", "ts", "user_id")
    r = read_event_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("event_id_r"),
        F.col("ts").alias("ts_r"),
        "user_id",
    )
    pairs = stream_stream_join(
        l, r, max_gap_seconds=3600, watermark="1 hour", how="left_outer"
    ).select("event_id", "event_id_r")
    run_available_now_to_memory(pairs, "t_ossj", output_mode="append")
    got = sorted(
        (row.event_id, row.event_id_r) for row in spark.table("t_ossj").collect()
    )
    assert got == [(1, 3)]


def test_ingest_dedup_sink_appends_only_novel_content(spark, tmp_path):
    """Two drains with overlapping content: the corpus ends with exactly
    the distinct texts, the second drain appending only the new ones —
    and a replayed document never lands twice (lake-side dedup, no keyed
    state)."""
    from animaltrackingetls_spark.streaming import run_available_now_ingest_dedup

    src = str(tmp_path / "docs_in")
    corpus = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck_ingest")
    schema = "doc_id long, text string"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_available_now_ingest_dedup(stream, corpus, ck)

    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], schema  # 3 dups 1 in-batch
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    got1 = {r.text for r in spark.read.parquet(corpus).collect()}
    assert got1 == {"alpha", "beta"}

    spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], schema  # beta is a corpus-level dup
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    rows = spark.read.parquet(corpus).collect()
    assert {r.text for r in rows} == {"alpha", "beta", "gamma"}
    assert len(rows) == 3  # beta appended exactly once across both drains


def test_read_event_stream_refuses_empty_dir_with_nanos_rescue(spark, tmp_path):
    """A streaming schema is pinned at start: classifying an empty
    landing dir would lock in the wrong ts type and fail on the first
    real file — refuse loudly instead."""
    import os

    src = str(tmp_path / "empty_landing")
    os.makedirs(src)
    with pytest.raises(ValueError, match="no parquet files"):
        read_event_stream(spark, src, nanos_ts=True)


def test_stream_stream_join_outer_keeps_right_only_key(spark):
    """how='right_outer': a right-side row with no qualifying left match
    must come out with its KEY intact (coalesced from the right side),
    not NULL — withWatermark is a no-op in batch, so the column
    semantics are testable without draining a stream."""
    from animaltrackingetls_spark.streaming import stream_stream_join

    l = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00")],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = spark.createDataFrame(
        [("u1", "2024-01-01 10:30:00"), ("u2", "2024-01-01 11:00:00")],
        "user_id string, ts_r string",
    ).withColumn("ts_r", F.col("ts_r").cast("timestamp"))
    out = stream_stream_join(l, r, how="right_outer").collect()
    keys = sorted(row.user_id for row in out)
    assert keys == ["u1", "u2"]  # u2 (right-only) keeps its key
    assert "user_id" in [f.name for f in stream_stream_join(l, r).schema.fields]


def test_parquet_sink_update_mode_key_partition_migration(spark, tmp_path):
    """keys_determine_partitions=False: a key re-emitted with a NEW
    partition value must purge its stale copy in the old partition —
    including deleting a partition directory that ends up fully empty
    (dynamic overwrite would otherwise skip it)."""
    import os

    from animaltrackingetls_spark.streaming import run_available_now_to_parquet

    src = tmp_path / "mig_src"
    out = str(tmp_path / "mig_out")
    ckpt = str(tmp_path / "mig_ckpt")
    schema = "k long, part string, v long"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_available_now_to_parquet(
            stream, out, ckpt, partition_cols=["part"],
            output_mode="update", unique_key_cols=["k"],
            keys_determine_partitions=False,
        )

    spark.createDataFrame([(1, "A", 1), (2, "C", 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    assert {(r.k, r.part) for r in spark.read.parquet(out).collect()} == {
        (1, "A"), (2, "C")
    }

    # key 1 migrates A -> B; partition A is left fully empty
    spark.createDataFrame([(1, "B", 2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    rows = {(r.k, r.part, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "B", 2), (2, "C", 1)}  # no stale (1, 'A') duplicate
    assert not os.path.exists(os.path.join(out, "part=A"))  # emptied dir removed


def test_memory_many_concurrent_drain_matches_sequential(spark, tmp_path):
    """run_available_now_to_memory_many drains independent queries
    concurrently; each memory table must equal its own sequential
    drain. Also: a failure/timeout path must leave no active query
    behind (the finally-stop guarantee)."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory_many,
        windowed_event_counts,
    )

    src = tmp_path / "many_src"
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", 1, "click", 1.0, None),
            (2, "2024-01-01 00:40:00", 1, "click", 2.0, None),
            (3, "2024-01-01 01:10:00", 2, "view", 3.0, None),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) ts", "user_id",
        "event_type", "value", "props"
    ).coalesce(1).write.parquet(str(src))

    stream = read_event_stream(spark, str(src))
    tum = windowed_event_counts(stream, "1 hour").select(
        "window_start", "event_type", "n_events"
    )
    sli = windowed_event_counts(stream, "1 hour", slide="30 minutes").select(
        "window_start", "event_type", "n_events"
    )
    run_available_now_to_memory_many(
        {"t_many_tum": tum, "t_many_sli": sli}, output_mode="complete"
    )
    assert len(spark.streams.active) == 0
    tum_rows = {
        (r.window_start, r.event_type, r.n_events)
        for r in spark.table("t_many_tum").collect()
    }
    # tumbling: 2 clicks in hour 0, 1 view in hour 1
    assert {(t.hour, e, n) for t, e, n in tum_rows} == {
        (0, "click", 2), (1, "view", 1)
    }
    # sliding hour/30min: each event in exactly 2 windows
    n_sli = spark.table("t_many_sli").agg(F.sum("n_events")).first()[0]
    assert n_sli == 6


def test_memory_many_failure_stops_all_queries(spark, tmp_path):
    """If one of the concurrent queries dies (injected raise_error),
    the helper must propagate the failure AND leave no other query
    active — the finally-stop guarantee in the docstring."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory_many,
    )

    src = tmp_path / "many_fail_src"
    spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", 1, "click", 1.0, None)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) ts", "user_id",
        "event_type", "value", "props"
    ).coalesce(1).write.parquet(str(src))

    stream = read_event_stream(spark, str(src))
    ok = stream.select("event_id")
    bad = stream.select(
        F.when(
            F.col("event_id") >= 0, F.raise_error(F.lit("injected failure"))
        ).otherwise(F.lit("x")).alias("boom")
    )
    with pytest.raises(Exception):
        run_available_now_to_memory_many(
            {"t_fail_ok": ok, "t_fail_bad": bad}, output_mode="append"
        )
    assert len(spark.streams.active) == 0


def test_partition_path_segment_matches_spark_for_exotic_values(spark, tmp_path):
    """Cross-check the escape table against Spark itself: write one
    partitioned frame whose values cover every character class Spark
    escapes (%XX metachars, control chars, spaces, unicode, equals,
    hash, quotes) and assert the composer reproduces each on-disk
    directory name exactly."""
    import os

    from animaltrackingetls_spark.streaming.jobs import _partition_path_segment

    values = [
        "plain", "with space", "a:b", "q?mark", "p%cent", 'd"quote',
        "e=qual", "h#ash", "s/lash", "b\\slash", "st*ar", "unié",
        "br[ack]et", "c^aret", "cu{rly", "ap'ostrophe",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, part string"
    )
    out = str(tmp_path / "exotic")
    df.write.partitionBy("part").parquet(out)
    on_disk = {d for d in os.listdir(out) if d.startswith("part=")}
    composed = {_partition_path_segment("part", v) for v in values}
    assert composed == on_disk, (
        sorted(composed - on_disk), sorted(on_disk - composed)
    )


def test_parquet_sink_migration_escaped_and_null_partition_values(spark, tmp_path):
    """Emptied-partition cleanup must compose directory names the way
    Spark WRITES them: special characters %XX-escaped
    (ExternalCatalogUtils.escapePathName) and NULL as
    __HIVE_DEFAULT_PARTITION__ (r7 ADVICE). A raw f-string path would
    miss both directories and leave stale rows that duplicate on
    reread."""
    import os

    from animaltrackingetls_spark.streaming import run_available_now_to_parquet
    from animaltrackingetls_spark.streaming.jobs import _partition_path_segment

    # unit: the composer matches Spark's on-disk naming
    assert _partition_path_segment("part", "a:b/c") == "part=a%3Ab%2Fc"
    assert _partition_path_segment("part", None) == "part=__HIVE_DEFAULT_PARTITION__"
    assert _partition_path_segment("part", "") == "part=__HIVE_DEFAULT_PARTITION__"
    assert _partition_path_segment("part", True) == "part=true"
    assert (
        _partition_path_segment("ts", datetime.datetime(2024, 1, 1, 12, 34, 56))
        == "ts=2024-01-01 12%3A34%3A56"
    )
    assert (
        _partition_path_segment(
            "ts", datetime.datetime(2024, 1, 1, 12, 34, 56, 500000)
        )
        == "ts=2024-01-01 12%3A34%3A56.5"
    )

    src = tmp_path / "esc_src"
    out = str(tmp_path / "esc_out")
    ckpt = str(tmp_path / "esc_ckpt")
    schema = "k long, part string, v long"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_available_now_to_parquet(
            stream, out, ckpt, partition_cols=["part"],
            output_mode="update", unique_key_cols=["k"],
            keys_determine_partitions=False,
        )

    # key 1 lands in a special-char partition, key 2 in the NULL partition
    spark.createDataFrame(
        [(1, "a:b/c", 1), (2, None, 1), (3, "ok", 1)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    # confirm Spark's actual directory names match the composer
    assert os.path.exists(os.path.join(out, "part=a%3Ab%2Fc"))
    assert os.path.exists(os.path.join(out, "part=__HIVE_DEFAULT_PARTITION__"))

    # both keys migrate to 'ok': the escaped and NULL dirs empty out
    spark.createDataFrame(
        [(1, "ok", 2), (2, "ok", 2)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    rows = {(r.k, r.part, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "ok", 2), (2, "ok", 2), (3, "ok", 1)}
    assert not os.path.exists(os.path.join(out, "part=a%3Ab%2Fc"))
    assert not os.path.exists(os.path.join(out, "part=__HIVE_DEFAULT_PARTITION__"))


def test_remove_duplicate_spans_rejects_spans_with_keep_first(spark):
    """keep_first=True cannot honor spans= (gram identity is gone after
    merging) — passing both must raise, not silently recompute."""
    from animaltrackingetls_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    spans = spark.createDataFrame([(2, 0, 5)], "id long, start long, end long")
    with pytest.raises(ValueError, match="keep_first"):
        dedup.remove_duplicate_spans(docs, spans=spans)


def test_streaming_vector_indexing_appends_novel_and_compacts(spark, tmp_path):
    """Streaming IVF maintenance: a vector stream drains into a saved
    index via per-batch ivf_append; ids already indexed are skipped
    (replay/resubmission idempotence — the anti-join makes the sink
    safe under foreachBatch's at-least-once), staleness is reported per
    batch, inline compaction keeps cells at one file, and searching the
    grown index equals searching one rebuilt from scratch at a
    full-probe budget."""
    import pyspark.sql.functions as F

    from animaltrackingetls_spark.operators import similarity
    from animaltrackingetls_spark.streaming import (
        run_available_now_index_vectors,
    )

    schema = "vec_id long, embedding array<double>"

    def mk(ids, base):
        return spark.createDataFrame(
            [(i, [base, 1.0 - base, 0.0, 0.0]) for i in ids], schema
        )

    index_path = str(tmp_path / "idx")
    build = mk(range(20), 1.0).unionByName(mk(range(20, 40), 0.0))
    similarity.save_ivf_index(
        similarity.ivf_index(build, n_centroids=2), index_path
    )

    src = str(tmp_path / "vec_in")
    ck = str(tmp_path / "ck_vec")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        return run_available_now_index_vectors(
            stream, index_path, ck, compact_when_files_exceed=1
        )

    # batch 1: two novel vectors + a resubmission of an indexed id
    mk([100], 1.0).unionByName(mk([200, 5], 0.0)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stats1 = drain()
    assert [s["n_appended"] for s in stats1] == [2]
    assert 0.0 <= stats1[0]["staleness_ratio"] < 3.0
    assert stats1[0]["compact"]["cells_compacted"] >= 1

    # batch 2: pure replay of batch-1 content under a FRESH checkpoint
    # (forces reprocessing) -> nothing appended, no compact entry
    import shutil

    shutil.rmtree(ck)
    stats2 = drain()
    assert [s["n_appended"] for s in stats2] == [0]
    assert "compact" not in stats2[0]

    assignment = spark.read.parquet(f"{index_path}/assignment")
    assert assignment.count() == 42
    assert assignment.select("n_id").distinct().count() == 42

    # grown index == rebuilt index at full probe budget
    q = mk([0], 1.0).unionByName(mk([20], 0.0))
    got = {
        (r.q_id, r.n_id, r.rank)
        for r in similarity.ivf_search(
            similarity.load_ivf_index(spark, index_path),
            q, k=5, n_probe=2, prune_cells=True,
        ).collect()
    }
    rebuilt = similarity.ivf_index(
        build.unionByName(mk([100], 1.0)).unionByName(mk([200], 0.0)),
        n_centroids=2,
    )
    want = {
        (r.q_id, r.n_id, r.rank)
        for r in similarity.ivf_search(rebuilt, q, k=5, n_probe=2).collect()
    }
    assert got == want
