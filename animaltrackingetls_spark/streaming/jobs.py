"""Streaming jobs: windowed counts, session windows, stream dedup.

All stateful operators carry a watermark so state is bounded: without
one, a 100 TB/day stream accretes state forever. ``AvailableNow``
triggers make every job runnable as an incremental batch (the Spark
idiom replacing the reference's cron re-runs, SURVEY.md §2.10).
"""

from __future__ import annotations

import datetime as _datetime
import time as _time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# characters Spark escapes in partition directory names
# (ExternalCatalogUtils.charToEscape: HTTP control chars plus the
# path/URI metacharacters below); values escape as %XX uppercase hex
_PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(i) for i in range(0x01, 0x20)
)


def _escape_path_name(s: str) -> str:
    """Python twin of Spark's ExternalCatalogUtils.escapePathName."""
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in s
    )


def _partition_path_segment(col: str, value) -> str:
    """Compose one ``col=value`` partition directory segment exactly as
    Spark writes it: NULL and empty-string values become
    ``__HIVE_DEFAULT_PARTITION__`` (PartitioningUtils.getPartitionPathString),
    booleans lowercase like a Cast-to-string, and both sides escaped with
    :func:`_escape_path_name`. Raw f-string interpolation is WRONG here —
    a value containing ``/`` would compose a path outside the partition
    dir, and NULL rows would never match the on-disk directory."""
    if value is None:
        return f"{_escape_path_name(col)}=__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        s = "true" if value else "false"
    elif isinstance(value, _datetime.datetime):
        # Spark renders timestamp partition values as a cast-to-string:
        # seconds, then the fraction with trailing zeros trimmed —
        # str(datetime) would keep ".500000" and miss the directory
        s = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            s += f".{value.microsecond:06d}".rstrip("0")
    else:
        s = str(value)
    if s == "":
        return f"{_escape_path_name(col)}=__HIVE_DEFAULT_PARTITION__"
    return f"{_escape_path_name(col)}={_escape_path_name(s)}"


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
    nanos_ts: bool = False,
    path_glob: str | None = None,
) -> DataFrame:
    """File-landing-directory stream (the cloud-scale pattern: writers
    drop parquet into a prefix; the stream discovers new files).

    ``nanos_ts=True`` enables a footer-driven rescue of the ``ts``
    column — the streaming twin of io.load_table's. Streams need an
    explicit schema, so the parquet footer decides which one:
    TIMESTAMP(NANOS) reads as int64 under the session's nanosAsLong conf
    and is cast back; TIMESTAMP(isAdjustedToUTC=false) reads as
    TIMESTAMP_NTZ and is cast to the UTC session timestamp (wall-clock
    lossless). The driver's testdata has shipped both encodings, so the
    choice cannot be hard-coded.
    """
    ts_kind = None
    if nanos_ts:
        from animaltrackingetls_spark.io import _footer_signature, timestamp_rescue_kinds

        if not _footer_signature(path, path_glob or "*.parquet")[1]:
            # a streaming query's schema is FIXED at start: classifying an
            # empty landing dir would pin TimestampType, and the first
            # TIMESTAMP(NANOS)/NTZ file to land then fails (or misreads)
            # forever. Fail loudly now instead.
            raise ValueError(
                f"read_event_stream(nanos_ts=True): no parquet files under "
                f"{path!r} to classify the ts encoding from — either wait "
                "for the first file or pass nanos_ts=False with an explicit "
                "schema matching the writer"
            )
        ts_kind = timestamp_rescue_kinds(path, path_glob or "*.parquet").get("ts")
    read_schema = schema
    if ts_kind is not None:
        rescue_type = T.LongType() if ts_kind == "nanos" else T.TimestampNTZType()
        read_schema = T.StructType(
            [
                T.StructField(f.name, rescue_type) if f.name == "ts" else f
                for f in schema.fields
            ]
        )
    reader = spark.readStream.schema(read_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    out = reader.parquet(path)
    if ts_kind == "nanos":
        out = out.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_kind == "ntz":
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out


def windowed_event_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    round_digits: int = 6,
    slide: str | None = None,
) -> DataFrame:
    """Windowed counts + value sums per event_type with a watermark
    bounding late data (and state). Default is tumbling windows; pass
    ``slide`` (< duration) for sliding/hopping windows — each event then
    lands in duration/slide windows, and state scales by the same
    factor, which is why the slide should divide the duration and stay
    coarse at 100 TB/day (12 overlapping windows per event is a 12×
    state bill)."""
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), round_digits).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_user_activity(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` idle.
    State per in-flight session only — the watermark evicts closed ones."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream–static join: enrich each micro-batch against a batch
    dimension table — the standard streaming enrichment pattern (the
    reference's per-row geocode HTTP call, reshaped as a join the way
    the batch path's J1 already is).

    The static side is re-read per micro-batch by Spark (so a dimension
    refresh is picked up without restarting the query) and broadcast
    when small. Stateless — no watermark needed for the join itself;
    compose with windowed aggs downstream as usual.
    """
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    max_gap_seconds: int = 3600,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream–stream join: pair each right-side event with
    every left-side event for the same key that happened at most
    ``max_gap_seconds`` BEFORE it (attribution: purchase joined to the
    signups that preceded it within the window).

    The two pieces that make this bounded-state at 100 TB/day:

    * both inputs carry a watermark, so each side's buffered rows are
      evicted once the other side's event-time frontier passes them;
    * the join condition includes an explicit event-time RANGE
      (``l.ts BETWEEN r.ts - gap AND r.ts``), which is what lets Spark
      derive the state-cleanup predicate — an equi-only stream–stream
      join would buffer both sides forever and fail the unsupported-
      operation check in append mode.

    Inner join output is exactly the batch join's row set (every
    qualifying pair is emitted once, when both sides have arrived), so
    a plain SQL interval join is an exact oracle. Outer variants emit
    NULL-padded rows only after the watermark closes the window —
    supported here via ``how`` but arrival-order-sensitive at the
    margins, so keep oracles to ``inner``.

    ``left``/``right`` column names must be disjoint apart from ``key``;
    the right side's event-time column is expected pre-renamed (default
    ``ts_r``) for the same reason.
    """
    r_key = f"__r_{key}"
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.withWatermark(right_ts, watermark)
        .withColumnRenamed(key, r_key)
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{r_key}"))
        & (F.col(f"l.{left_ts}") <= F.col(f"r.{right_ts}"))
        & (
            F.col(f"l.{left_ts}")
            >= F.col(f"r.{right_ts}") - F.expr(f"INTERVAL {int(max_gap_seconds)} SECONDS")
        )
    )
    joined = l.join(r, cond, how)
    # Collapse the two key columns into one. For right/full outer rows the
    # left key is NULL — coalescing keeps the key value for right-only rows
    # instead of losing it with the dropped right-side column.
    return joined.withColumn(key, F.coalesce(F.col(f"l.{key}"), F.col(r_key))).drop(
        r_key
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps key state only until the
    watermark passes — bounded state, unlike plain dropDuplicates on a
    stream."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_user_totals(
    stream: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value total, carried across micro-batches.

    Spark has no builtin "emit the running cumulative per key each
    batch" — aggregations emit per *window*, not per lifetime — so this
    is the documented custom-state path: state is one (count, total)
    pair per user (bounded, tiny), updated from each batch's Arrow
    frame, optionally timed out to bound key cardinality drift.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = stream.schema[user_col]
    key_name = key_field.name
    out_schema = T.StructType(
        [
            T.StructField(key_name, key_field.dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # evict — re-updating here would resurrect the state forever
            # and emit a spurious row per idle key each timeout cycle
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += int(len(pdf))
            total += float(vals.sum())
        state.update((n, total))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {key_name: [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(F.col(user_col)).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def run_available_now_to_parquet(
    result: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: list[str] | None = None,
    output_mode: str = "complete",
    unique_key_cols: list[str] | None = None,
    keys_determine_partitions: bool = True,
    timeout_seconds: int = 120,
) -> None:
    """Drain a streaming frame into parquet via ``foreachBatch`` — the
    PRODUCTION sink shape (the memory sink above is the test/demo path).

    Why ``foreachBatch`` instead of ``format('parquet')``: the built-in
    file sink is append-only, so a stateful aggregation re-emitting a
    window's updated total would duplicate rows. The write strategy
    follows the output mode, because each mode's batch rows mean
    something different:

    * ``"complete"`` (default) — every batch carries EVERY group, so a
      straight overwrite (dynamic per-partition when partitioned) is
      correct by construction.
    * ``"update"`` — a batch carries only CHANGED groups, so the sink
      must MERGE: rows whose ``unique_key_cols`` match a batch row are
      replaced, everything else survives (required parameter — a plain
      partition overwrite here would silently DROP unchanged groups
      sharing a rewritten partition, and an append would duplicate).
      With ``partition_cols`` the merge reads/rewrites only the touched
      partitions — O(batch), the streaming twin of the reference's
      idempotent overwrite-table-per-day load (db_loader.py:23-59).
      That O(batch) scoping is only correct when a key's partition
      value never changes between emissions (``unique_key_cols``
      functionally determine ``partition_cols`` — true for the
      window-keyed aggregations this sink serves, where the window
      start IS part of the key). If keys CAN migrate partitions, pass
      ``keys_determine_partitions=False``: the sink then also scans the
      existing table for partitions holding a batch key and rewrites
      those too, so the stale copy in the old partition is removed —
      an extra keyed scan of the table per batch, but still rewriting
      only partitions that actually hold affected rows. A partition
      whose rows ALL migrated away produces zero output rows, which
      dynamic overwrite would silently skip — the sink detects those
      emptied partitions and deletes their directories explicitly.
    * ``"append"`` — immutable finalized rows (watermark-closed
      windows, stateless maps): plain file append.

    Scale notes: the checkpoint (offsets + state store) is what makes
    restarts exactly-once; partition columns should bound each
    micro-batch's rewrite to O(batch) partitions (e.g. window_start
    date/hour), never a high-cardinality key.
    """
    if output_mode == "update" and not unique_key_cols:
        raise ValueError(
            "output_mode='update' emits only changed groups — the sink "
            "needs unique_key_cols to merge them without dropping "
            "unchanged neighbors or duplicating re-emitted ones"
        )

    def _write(df: DataFrame, mode: str) -> None:
        w = df.write.mode(mode)
        if partition_cols:
            # per-write option, NOT session conf: setting
            # spark.sql.sources.partitionOverwriteMode on the shared
            # session inside foreachBatch would silently change overwrite
            # semantics for every later write in the same session
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
                *partition_cols
            )
        w.parquet(path)

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if output_mode == "append":
            _write(batch_df, "append")
            return
        if output_mode == "complete":
            _write(batch_df, "overwrite")
            return
        # update: keyed merge over the touched scope
        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(path)
        except AnalysisException as err:
            cond = ""
            try:
                cond = err.getCondition() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(err):
                raise
            _write(batch_df, "overwrite")
            return
        keys = batch_df.select(*unique_key_cols).distinct()
        keep = existing
        if partition_cols:
            touched = batch_df.select(*partition_cols).distinct()
            if not keys_determine_partitions:
                # keys may have migrated partitions: also rewrite any
                # existing partition that holds a batch key, so the stale
                # copy in the old partition is purged rather than
                # surviving outside the rewrite scope
                stale = (
                    existing.join(keys, unique_key_cols, "left_semi")
                    .select(*partition_cols)
                    .distinct()
                )
                touched = touched.unionByName(stale).distinct()
            keep = keep.join(touched, partition_cols, "left_semi")
        keep = keep.join(keys, unique_key_cols, "left_anti")
        # lineage break: the merge reads the path the write overwrites
        out = keep.unionByName(batch_df).localCheckpoint(eager=True)
        emptied: list = []
        if partition_cols and not keys_determine_partitions:
            # dynamic overwrite skips partitions with zero output rows, so a
            # partition whose rows ALL migrated away would keep its stale
            # files — find those and delete their directories after the write.
            # Both sides are O(batch partitions) by construction.
            emptied = (
                touched.join(
                    out.select(*partition_cols).distinct(), partition_cols, "left_anti"
                )
                .collect()
            )
        _write(out, "overwrite")
        if emptied:
            sc = spark.sparkContext
            hconf = sc._jsc.hadoopConfiguration()
            jpath = sc._jvm.org.apache.hadoop.fs.Path
            fs = jpath(path).getFileSystem(hconf)
            for row in emptied:
                sub = "/".join(
                    _partition_path_segment(c, row[c]) for c in partition_cols
                )
                p = jpath(f"{path}/{sub}")
                if fs.exists(p):
                    fs.delete(p, True)

    q = (
        result.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming write to {path!r} did not drain within "
            f"{timeout_seconds}s; raise timeout_seconds for this volume"
        )


def run_available_now_register_inventory(
    stream: DataFrame,
    inventory_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    processed_at: str | None = None,
    timeout_seconds: int = 120,
) -> None:
    """Streaming twin of the reference's inventory registration: each
    micro-batch counts its rows per day and folds them into the
    parquet inventory catalog via ``foreachBatch`` — counts ADD across
    batches (a batch is an increment, not a restatement, unlike the
    batch path's per-run overwrite), so the catalog tracks cumulative
    ingested volume per day as files land.

    Exactly-once accounting comes from the checkpoint: a replayed batch
    after crash-before-commit would double-count, which is the known
    foreachBatch at-least-once edge — pair this with the
    reconcile_inventory backfill (which recomputes truth from the data
    and repairs drift).
    """
    from animaltrackingetls_spark.inventory import (
        INVENTORY_COLUMNS,
        table_name_for_day,
        upsert_parquet,
    )

    def _register(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        new_counts = (
            batch_df.groupBy(
                F.to_date(ts_col).alias("available_date")
            )
            .agg(F.count(F.lit(1)).alias("record_count"))
        )
        try:
            existing = spark.read.parquet(inventory_path).select(
                "available_date", F.col("record_count").alias("prior_count")
            )
            merged = new_counts.join(existing, "available_date", "left")
            new_counts = merged.select(
                "available_date",
                (
                    F.col("record_count")
                    + F.coalesce("prior_count", F.lit(0))
                ).alias("record_count"),
            )
        except AnalysisException as err:
            # only a genuinely missing inventory means "first batch"; a
            # corrupt or unreadable one must surface, not silently reset
            # the cumulative counts (mirrors upsert_parquet's detection)
            cond = ""
            try:
                cond = err.getCondition() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(err):
                raise
        updates = new_counts.select(
            "available_date",
            table_name_for_day(F.col("available_date")).alias("table_name"),
            "record_count",
            (
                F.lit(processed_at).cast("string")
                if processed_at is not None
                else F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
            ).alias("processed_at"),
        ).select(*INVENTORY_COLUMNS)
        upsert_parquet(spark, inventory_path, updates, ["available_date"])

    q = (
        stream.writeStream.foreachBatch(_register)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"inventory registration stream did not drain within {timeout_seconds}s"
        )


def run_available_now_to_memory(
    result: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_seconds: int = 120,
) -> None:
    """Run a streaming frame to completion over currently-available input
    (cron-style incremental batch) into an in-memory table named
    ``query_name`` — the test/demo sink; production swaps in
    ``format('parquet')`` + checkpointLocation."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        # Returning here would hand the caller a silently-partial memory
        # table and leak a query still holding the queryName.
        q.stop()
        raise TimeoutError(
            f"streaming query {query_name!r} did not drain within "
            f"{timeout_seconds}s; raise timeout_seconds for this volume"
        )


def run_available_now_to_memory_many(
    results: dict[str, DataFrame],
    output_mode: str = "append",
    timeout_seconds: int = 120,
) -> None:
    """Drain SEVERAL independent streaming frames concurrently, each
    into its own in-memory table (keys of ``results``). One session
    runs many streaming queries at once — starting them all before
    awaiting any overlaps the per-query fixed costs (temp checkpoint
    creation, source listing, micro-batch scheduling) that a
    sequential drain pays serially. Measured on the two-window bench
    query at sf0.1: 2.6 s sequential → 1.8 s concurrent warm
    (SCALING.md 'streaming drift'). On a cluster this is simply how
    multi-query streaming apps are written; there is no sequential
    version to prefer."""
    queries = []
    try:
        for name, result in results.items():
            queries.append(
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        deadline = _time.monotonic() + timeout_seconds
        for q in queries:
            left = max(0.1, deadline - _time.monotonic())
            if not q.awaitTermination(left):
                raise TimeoutError(
                    f"streaming query {q.name!r} did not drain within "
                    f"{timeout_seconds}s; raise timeout_seconds for this volume"
                )
    finally:
        for q in queries:
            if q.isActive:
                q.stop()


def run_available_now_histogram_rollup(
    stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 16,
    timeout_seconds: int = 120,
) -> None:
    """Streaming ingestion of the mergeable histogram rollup: each
    micro-batch computes its own fixed-bin vectors
    (``aggregates.histogram_rollup``) and element-wise ADDS them into
    the persisted parquet rollup via ``foreachBatch`` — the exact
    mergeability property the batch operator proves
    (merge(batch, prior) == direct over all data) is what makes the
    streaming form correct with no restatement and no raw-data
    retention: the sink only ever holds n_bins longs per group.

    Same at-least-once caveat and PATH_NOT_FOUND-only first-write
    detection as ``run_available_now_register_inventory``; the repair
    path is recomputation from the (partitioned) fact table.
    """
    from animaltrackingetls_spark.operators.aggregates import (
        histogram_merge,
        histogram_rollup,
    )

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        new_h = histogram_rollup(
            batch_df, [group_col], value_col, lo=lo, hi=hi, n_bins=n_bins
        )
        try:
            prior = spark.read.parquet(rollup_path)
            new_h = histogram_merge(
                new_h.unionByName(prior), [group_col], n_bins=n_bins
            )
        except AnalysisException as err:
            cond = ""
            try:
                cond = err.getCondition() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(err):
                raise
        out = new_h.localCheckpoint(eager=True)  # sever read-from-path lineage
        out.write.mode("overwrite").parquet(rollup_path)

    q = (
        stream.writeStream.foreachBatch(_fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"histogram rollup stream did not drain within {timeout_seconds}s"
        )


def running_user_totals_tws(
    stream: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """`running_user_totals` on Spark 4's ``transformWithStateInPandas``
    — the successor API to ``applyInPandasWithState``: state lives in
    named, typed handles (ValueState here; ListState/MapState/timers
    exist) owned by a ``StatefulProcessor``, instead of one opaque
    tuple, and the same processor runs unchanged on batch DataFrames
    (Spark executes it with transient state). Semantics match the
    classic form: one cumulative (n_events, total_value) row per seen
    user per batch.

    Runtime requirement (environment-bound, like the JDBC driver jar):
    the TWS Python state server needs the ``protobuf`` wheel, absent in
    this container (pip offline) — the parity test skips with that
    reason. Re-verified round 13 (``import google.protobuf`` still
    ModuleNotFoundError; rocksdbjni-9.8.4 still present). Re-attempted
    round 10: the RocksDB side is NOT a blocker
    anymore (rocksdbjni-9.8.4 ships in pyspark/jars and the
    RocksDBStateStoreProvider conf is accepted); the drain still dies
    with 'TransformWithStateInPySpark driver worker exited unexpectedly'
    because that worker imports google.protobuf at startup. The classic
    ``running_user_totals`` has no such dependency and is the
    registered form.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    key_field = stream.schema[user_col]
    key_name = key_field.name
    out_schema = T.StructType(
        [
            T.StructField(key_name, key_field.dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                vals = pdf[value_col].dropna()
                n += int(len(pdf))
                total += float(vals.sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {key_name: [key[0]], "n_events": [n],
                 "total_value": [round(total, 6)]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy(F.col(user_col)).transformWithStateInPandas(
        RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def run_available_now_ingest_dedup(
    stream: DataFrame,
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    timeout_seconds: int = 120,
) -> None:
    """Streaming corpus ingest with content dedup against the LAKE, not
    the state store: each micro-batch is (1) internally deduped on the
    md5 text digest, (2) classified against the persisted corpus by the
    broadcast-bloom prefilter + exact confirm join
    (``dedup.bloom_new_docs`` — no false negatives, FPs resolved
    exactly), and (3) only novel documents are appended.

    Why lake-side instead of ``dropDuplicatesWithinWatermark``: content
    dedup has no event-time horizon — a document ingested last month is
    still a duplicate today — so keyed state would grow with the corpus
    forever. Here the dedup "state" IS the corpus parquet; the bloom
    bitmap (≤ m_bits/8 bytes, built per batch from the digest column
    scan) keeps the probe broadcastable at any corpus size, and in
    production it would be cached per ingest epoch rather than rebuilt.

    Replay safety: foreachBatch is at-least-once, but a replayed batch
    re-classifies against the ALREADY-APPENDED corpus, so its documents
    come back ``dup`` and nothing is appended twice — the dedup makes
    the sink idempotent by construction.
    """
    from animaltrackingetls_spark.operators.dedup import (
        bloom_new_docs,
        drop_exact_duplicates,
    )

    def _ingest(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = drop_exact_duplicates(
            batch_df.withColumn("_fp", F.md5(F.col(text_col))), ["_fp"], id_col
        ).drop("_fp")
        try:
            corpus = spark.read.parquet(corpus_path)
        except AnalysisException as err:
            cond = ""
            try:
                cond = err.getCondition() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(err):
                raise
            batch.write.mode("append").parquet(corpus_path)
            return
        verdict = bloom_new_docs(batch, corpus, id_col, text_col, m_bits)
        novel_ids = verdict.filter(F.col("status") == "new").select(
            F.col("id").alias(id_col)
        )
        # write unconditionally: an isEmpty() probe would run the whole
        # bloom-classify plan a second time just to maybe skip an
        # append of nothing (an empty part file is far cheaper)
        batch.join(novel_ids, id_col, "left_semi").write.mode("append").parquet(
            corpus_path
        )

    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"ingest-dedup into {corpus_path!r} did not drain within "
            f"{timeout_seconds}s"
        )


def run_available_now_index_vectors(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_staleness_ratio: float | None = None,
    compact_when_files_exceed: int | None = None,
    timeout_seconds: int = 120,
) -> list[dict]:
    """Streaming ANN-index maintenance: drain a vector stream into a
    :func:`~..operators.similarity.save_ivf_index` layout, one
    :func:`~..operators.similarity.ivf_append` per micro-batch — the
    serving loop of a growing embedding corpus (train once, ingest
    forever, rebuild when the measured staleness says so).

    Replay safety the same way ``run_available_now_ingest_dedup`` gets
    it: foreachBatch is at-least-once, so each batch first anti-joins
    its ids against the ids ALREADY in the index and appends only the
    novel remainder — a replayed batch comes back empty and the sink is
    idempotent by construction. The probe is one column-pruned scan of
    the assignment's id column per batch; at corpora where that scan
    bites, cache a per-epoch bloom of the id set exactly as the
    ingest-dedup job reasons (the dedup state IS the index).

    ``max_staleness_ratio`` arms :func:`ivf_append`'s guard: a batch
    whose quantization error says the trained centroids no longer
    describe the data FAILS the stream (before writing) instead of
    silently degrading recall — the operational signal to retrain.
    ``compact_when_files_exceed`` runs
    :func:`~..operators.similarity.ivf_compact` with that threshold
    after every append — a no-op while cells stay tidy, a bounded
    rewrite of only the fragmented cells once per-batch files pile up
    (the background segment-merge of a real ANN service, inline here
    because AvailableNow drains are discrete).

    Returns the per-batch :func:`ivf_append` stats dicts in drain
    order — ``staleness_ratio`` over batches is the monitoring curve.
    """
    from animaltrackingetls_spark.operators import similarity

    batch_stats: list[dict] = []

    def _index(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        existing = spark.read.parquet(f"{index_path}/assignment").select(
            F.col("n_id").alias(id_col)
        )
        novel = batch_df.join(existing, id_col, "left_anti")
        out = similarity.ivf_append(
            spark,
            index_path,
            novel,
            id_col=id_col,
            vec_col=vec_col,
            max_staleness_ratio=max_staleness_ratio,
        )
        if compact_when_files_exceed is not None and out["n_appended"]:
            out["compact"] = similarity.ivf_compact(
                spark, index_path, compact_when_files_exceed
            )
        batch_stats.append(out)

    q = (
        stream.writeStream.foreachBatch(_index)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"vector indexing into {index_path!r} did not drain within "
            f"{timeout_seconds}s"
        )
    return batch_stats
