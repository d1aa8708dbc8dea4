"""Numeric/string coercion expressions (SURVEY.md §2.9 C3/C4/C7).

All null-on-failure, never raising — the reference uses
``pd.to_numeric(errors='coerce')`` (cleaning.py:206-207) and
``fillna(1)`` for counts (cleaning.py:221-231). ``try_cast`` is the
Spark-native equivalent and stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# String sentinels that mean NULL after a lossy str() round-trip
# (reference monarch_etl_gemini_ai.py:472-480 scrubs these before load).
_NA_STRINGS = ("None", "nan", "NaT", "<NA>", "")


def try_double(c: Column) -> Column:
    """C3: coerce to double, failures → NULL (≡ to_numeric(errors='coerce'))."""
    return F.trim(c).try_cast("double")


def count_with_default(c: Column | None, default: int = 1) -> Column:
    """C4: individualCount semantics — numeric coercion with default
    (cleaning.py:221-231); column absent entirely → literal default
    (cleaning.py:223-224).

    Coerce via double first: a double-typed column stringifies as '2.0'
    and decimal strings like '2.5' are valid inputs — ``try_cast('long')``
    would NULL both and silently default them. double→long truncates,
    matching the reference's ``to_numeric(...).fillna(1).astype(int)``.

    Edge semantics: 'NaN' parses to double NaN (→ default, like pandas
    fillna); ±Infinity and values beyond long range null out via
    try_cast (→ default) where pandas ``astype(int)`` would raise —
    coerce-don't-crash is this kernel's contract.
    """
    if c is None:
        return F.lit(default).cast("long")
    d = F.trim(c.cast("string")).try_cast("double")
    d = F.when(F.isnan(d), F.lit(None)).otherwise(d)
    return F.coalesce(d.try_cast("long"), F.lit(default).cast("long"))


def scrub_na_strings(c: Column) -> Column:
    """C7: map stringified-NA sentinels back to NULL."""
    return F.when(c.isin(*_NA_STRINGS), F.lit(None)).otherwise(c)
