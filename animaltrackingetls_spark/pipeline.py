"""End-to-end occurrence pipeline — the reference's flagship lifecycle
(SURVEY.md §3.1, ``monarch_etl_day_scan``) as one run over one snapshot
of its source.

Reference stages → Spark form:
1.  extract   paginated REST scan → any occurrence-shaped DataFrame
              (the ``paged_rest`` source, a parquet landing dir, JDBC…)
2.  clean     rescue dates, parse, coerce coords/counts, split
              good/reject (cleaning.clean_occurrences — one tagged
              projection, two filters, zero shuffles)
3.  enrich    geocode broadcast join (deterministic) or batched service
4.  time_only + temporal derivation (inside the cleaning kernel)
5.  schema    canonical 35-column alignment (inside the cleaning kernel)
6.  rejects   CSV sidecar export (io.write_rejects_csv)
7.  load      partitioned parquet, dynamic overwrite per date_only —
              the scalable replacement for table-per-day
8.  register  inventory upsert keyed on available_date

A run reads its source exactly once. Its Spark actions, in order:

a.  snapshot  ``localCheckpoint(eager=True)`` of the input: one pass over
              the source (for ``paged_rest``, one request per planned
              page). Every later frame — good, rejected, enriched, the
              sinks' inputs and the frames returned in
              ``PipelineResult`` — is planned over this snapshot, so all
              of them see the same records even when the upstream API
              answers differently from one call to the next.
b.  counts    one small aggregate over the frame that is written (after
              the geocode join, since a dim with repeated cells changes
              row counts) and the rejects, collected to the driver: the
              per-day good counts and the reject count. They give the
              empty-input short-circuit (F7, etl.py:56-58), whether a
              rejects file is written, ``loaded_rows``, and the
              inventory updates — no separate ``isEmpty`` probe or
              ``count()``.
c.  rejects   CSV write, only when the snapshot holds rejects.
d.  load      the partitioned parquet write.
e.  register  ``upsert_parquet`` merges the per-day counts (a driver-built
              frame of one row per day) into the catalog.

Cost of the snapshot: one copy of the input rows, held as Spark blocks
at MEMORY_AND_DISK (spilled to executor-local disk under memory
pressure) while the returned frames are reachable, and freed by Spark's
context cleaner once they are dropped. For a daily scan that is about
one day's records — the price of every output coming from one read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cleaning import clean_occurrences, rejection_histogram
from .enrichment import geocode_broadcast_join
from .inventory import catalog_rows, upsert_parquet
from .io import write_partitioned, write_rejects_csv


@dataclass
class PipelineResult:
    good: DataFrame
    rejected: DataFrame
    reject_histogram: DataFrame
    inventory: DataFrame | None
    loaded_rows: int


def occurrence_scan(
    spark: SparkSession,
    raw: DataFrame,
    output_dir: str | None = None,
    rejects_dir: str | None = None,
    inventory_path: str | None = None,
    geocode_dim: DataFrame | None = None,
    processed_at: str | None = None,
) -> PipelineResult:
    """Run the full §3.1 lifecycle over ``raw`` occurrence records.

    All sinks are optional so the same function serves tests (no writes),
    the day-scan job (all three sinks), and serving backfills. A
    multi-day input needs no loop — the partitioned write and the
    group-wise inventory registration handle any number of days in one
    pass (the reference's ``monarch_etl_multi_day_scan`` sequential loop
    collapses into this). ``raw`` is read once, into a snapshot that
    every sink, count and returned frame reads (module docstring).
    """
    result = clean_occurrences(raw.localCheckpoint(eager=True))
    good = result.good
    if geocode_dim is not None:
        enriched = geocode_broadcast_join(
            good.drop("county", "cityOrTown"), geocode_dim
        )
        good = enriched.select(*good.columns)

    # good rows always have a date_only (an unparseable date is a
    # reject), so the null group is the reject count. A day's rows fit
    # one task: coalesce(1) makes the aggregate a single stage, no
    # shuffle.
    per_day = {
        r["date_only"]: r["n"]
        for r in good.select("date_only")
        .unionByName(result.rejected.select(F.lit(None).cast("date").alias("date_only")))
        .coalesce(1)
        .groupBy("date_only")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_rejected = per_day.pop(None, 0)
    histogram = rejection_histogram(result.rejected)
    if not per_day and not n_rejected:  # F7: nothing to load or register
        return PipelineResult(good, result.rejected, histogram, None, 0)

    if rejects_dir is not None and n_rejected:
        write_rejects_csv(result.rejected, rejects_dir)

    loaded_rows = 0
    if output_dir is not None:
        write_partitioned(good, output_dir, ["date_only"])
        loaded_rows = sum(per_day.values())

    inventory = None
    if inventory_path is not None:
        counts = spark.createDataFrame(
            sorted(per_day.items()), "available_date date, record_count bigint"
        )
        inventory = upsert_parquet(
            spark, inventory_path, catalog_rows(counts, processed_at), ["available_date"]
        )

    return PipelineResult(
        good=good,
        rejected=result.rejected,
        reject_histogram=histogram,
        inventory=inventory,
        loaded_rows=loaded_rows,
    )
