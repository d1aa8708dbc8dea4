"""Cleaning kernel: one tagged frame, split into good/reject branches.

Reference semantics (monarch_etl/cleaning.py:76-266): rescue dates (C1),
parse timestamps (C2), drop unparseable-date rows (F1, reason
``unparseable_eventDate``), coerce coordinates and drop invalid rows
(F2, reason ``invalid_coordinates``), default individualCount (C4),
derive temporal columns (P3), prune to canonical columns (P1/P2).

Scale design (SURVEY.md §7 hard-part 6): the reference accumulates
rejects in a module-global list — that cannot distribute. Here the whole
kernel is ONE narrow projection that tags each row with a nullable
``_failure_reason``; ``good`` and ``rejected`` are two filters over the
same tagged frame. Zero shuffles; Catalyst folds the tag expression into
both branches, and if both branches are consumed in one job the scan is
shared. Invariant: ``good.count() + rejected.count() == input.count()``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.coercion import count_with_default, try_double
from .functions.datetime_expr import parse_event_timestamp, temporal_columns
from .schema import FAILURE_DETAIL, FAILURE_REASON, OCCURRENCE_SCHEMA, align_to_schema

REASON_BAD_DATE = "unparseable_eventDate"       # cleaning.py:191
REASON_BAD_COORDS = "invalid_coordinates"       # cleaning.py:213


@dataclass
class CleanResult:
    good: DataFrame       # canonical 35-column frame
    rejected: DataFrame   # original columns + _failure_reason/_failure_detail
    tagged: DataFrame     # every row with its failure tag, before the split


def tag_failures(raw: DataFrame) -> DataFrame:
    """Add parse/coercion columns and a nullable failure tag.

    Narrow transformation — per-row expressions only, safe at any scale.
    """
    has_count = "individualCount" in raw.columns
    ts = parse_event_timestamp(F.col("eventDate"))
    lat = try_double(F.col("decimalLatitude"))
    lon = try_double(F.col("decimalLongitude"))

    df = raw.withColumns(
        {
            "eventDateParsed": ts,
            "decimalLatitude_c": lat,
            "decimalLongitude_c": lon,
            "individualCount_c": count_with_default(
                F.col("individualCount") if has_count else None
            ),
        }
    )
    reason = (
        F.when(F.col("eventDateParsed").isNull(), F.lit(REASON_BAD_DATE))
        .when(
            F.col("decimalLatitude_c").isNull() | F.col("decimalLongitude_c").isNull(),
            F.lit(REASON_BAD_COORDS),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    detail = (
        F.when(
            reason == REASON_BAD_DATE,
            F.concat(F.lit("eventDate="), F.coalesce(F.col("eventDate"), F.lit("<null>"))),
        )
        .when(
            reason == REASON_BAD_COORDS,
            F.concat(
                F.lit("lat="),
                F.coalesce(F.col("decimalLatitude").cast("string"), F.lit("<null>")),
                F.lit(" lon="),
                F.coalesce(F.col("decimalLongitude").cast("string"), F.lit("<null>")),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn(FAILURE_REASON, reason).withColumn(FAILURE_DETAIL, detail)


def clean_occurrences(raw: DataFrame) -> CleanResult:
    """Full cleaning kernel: returns (good, rejected) branches.

    Both branches are lazy over ``raw``; a caller that consumes them in
    separate actions should hand in a materialized input (the pipeline
    passes its one snapshot of the source) so each action does not read
    the source again.
    """
    tagged = tag_failures(raw)
    rejected = tagged.filter(F.col(FAILURE_REASON).isNotNull()).drop(
        "eventDateParsed", "decimalLatitude_c", "decimalLongitude_c", "individualCount_c"
    )

    good = (
        tagged.filter(F.col(FAILURE_REASON).isNull())
        .drop(FAILURE_REASON, FAILURE_DETAIL)
        .drop("decimalLatitude", "decimalLongitude", "individualCount")
        .withColumnsRenamed(
            {
                "decimalLatitude_c": "decimalLatitude",
                "decimalLongitude_c": "decimalLongitude",
                "individualCount_c": "individualCount",
            }
        )
    )
    good = good.withColumns(temporal_columns(F.col("eventDateParsed")))
    good = align_to_schema(good, OCCURRENCE_SCHEMA)
    return CleanResult(good=good, rejected=rejected, tagged=tagged)


def rejection_histogram(rejected: DataFrame) -> DataFrame:
    """A3: rejection-reason frequency (reference etl.py:66 value_counts)."""
    return (
        rejected.groupBy(FAILURE_REASON)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), FAILURE_REASON)
    )
