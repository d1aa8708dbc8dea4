"""Seeded GBIF-shaped occurrence records, and the answers the checks expect.

The same ``(spec, seed)`` always builds the same records, so the program
under test and the load generator (which serves the pages and checks the
API answers) build identical datasets independently.

What the records contain, on purpose:

* ``eventDate`` in the messy shapes the cleaning kernel rescues: ISO
  dates, ``T``/space datetimes, single-digit month/day, ``A/B`` ranges,
  unparseable strings and NULLs; with ``partial_share`` also year-only,
  year-month and year-range dates, whose GBIF ``day`` (and maybe
  ``month``) is NULL, so only a scan that does not push ``day`` finds them.
* NULL, empty and unparseable coordinates, NULL ``individualCount``.
* A known share of exact duplicate records (whole-record copies).
* A geocode dimension over 1-degree cells covering a known share of them.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
from collections import Counter
from dataclasses import dataclass

FIRST_DAY = dt.date(2024, 3, 4)
PAGE_SIZE = 300  # GBIF's page size
DAY_PAGE_CAP = 10  # the reference's page cap for one day run
DUP_SHARE = 0.03  # base records that get 1-2 exact copies
GEO_COVER = 0.7  # share of 1-degree cells the geocode dim covers

SCHEMA_DDL = (
    "gbifID string, eventDate string, decimalLatitude string, "
    "decimalLongitude string, individualCount bigint, year int, month int, "
    "day int, country string, basisOfRecord string, scientificName string, "
    "taxonKey bigint, recordedBy string, stateProvince string"
)
BASIS = ("HUMAN_OBSERVATION", "PRESERVED_SPECIMEN", "MACHINE_OBSERVATION")
SPECIES = (
    ("Danaus plexippus", 5133088),
    ("Vanessa cardui", 4299368),
    ("Papilio glaucus", 1938125),
    ("Pieris rapae", 1920506),
    ("Odocoileus virginianus", 2440965),
    ("Cardinalis cardinalis", 9809229),
)
STATES = ("California", "Texas", "Ohio", "Maine", "Oregon", "Kansas", "Utah")
# (shape, weight) of eventDate for records whose GBIF year/month/day name a day
DAY_SHAPES = (
    ("iso", 0.34), ("iso_t", 0.18), ("iso_space", 0.14), ("narrow", 0.06),
    ("day_range", 0.10), ("bad", 0.12), ("null", 0.06),
)
PARTIAL_SHAPES = ("year", "year_month", "year_range")
LAT_CELLS = range(25, 49)
LON_CELLS = range(-124, -67)


@dataclass(frozen=True)
class Spec:
    """Size and mix of one generated dataset."""

    days: int
    per_day: int  # base records per day
    partial_share: float = 0.0  # extra records with year / year-month dates
    # serving order: "shuffled" mixes every day into every page, as a
    # search over a date range returns them; "by_date" keeps each day's
    # records together, so a page holds one or two days
    order: str = "shuffled"


@dataclass(frozen=True)
class Meta:
    """What cleaning should make of one record."""

    good: bool
    date_only: dt.date | None  # parsed date (good and rejected-coords rows)
    covered: bool  # its cell is in the geocode dim
    basis: str


@dataclass
class LoadExpectation:
    fetched: int
    good: int
    good_by_date: Counter
    dup_groups: int  # good records present more than once
    dup_rows: int  # rows in those groups
    geo_matched: int
    input_bytes: int


def _cell(x: float) -> int:
    # Spark's round(x, 0) is HALF_UP; the generator never emits an exact .5
    return math.floor(x + 0.5)


def _coord(rng: random.Random, lo_cell: int, hi_cell: int) -> float:
    whole = rng.randint(lo_cell, hi_cell)
    frac = rng.randint(1, 9999)
    if frac == 5000:
        frac = 5001
    return round(whole - 0.5 + frac / 10000, 4)


def _event_date(shape: str, d: dt.date, rng: random.Random):
    """-> (eventDate, parsed date or None, GBIF (year, month, day))."""
    y, m, dd = d.year, d.month, d.day
    ymd = (y, m, dd)
    hms = f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    if shape == "iso":
        return d.isoformat(), d, ymd
    if shape == "iso_t":
        return f"{d.isoformat()}T{hms}", d, ymd
    if shape == "iso_space":
        return f"{d.isoformat()} {hms}", d, ymd
    if shape == "narrow":
        return f"{y}-{m}-{dd}", d, ymd
    if shape == "day_range":
        return f"{d.isoformat()}/{(d + dt.timedelta(days=2)).isoformat()}", d, ymd
    if shape == "bad":
        return rng.choice(("not a date", "unknown", "n/a")), None, ymd
    if shape == "null":
        return None, None, ymd
    if shape == "year":
        return str(y), dt.date(y, 1, 1), (y, None, None)
    if shape == "year_month":
        return f"{y}-{m:02d}", dt.date(y, m, 1), (y, m, None)
    if shape == "year_range":
        return f"{y}/{y + 1}", dt.date(y, 1, 1), (y, None, None)
    raise ValueError(shape)


class Dataset:
    """Records in serving order plus what each should become."""

    def __init__(self, spec: Spec, seed: int):
        rng = random.Random(f"{seed}:{spec}")
        self.spec = spec
        self.days = [FIRST_DAY + dt.timedelta(days=i) for i in range(spec.days)]
        shapes, weights = zip(*DAY_SHAPES)
        self.geo_cells = {
            (la, lo)
            for la in LAT_CELLS
            for lo in LON_CELLS
            if rng.random() < GEO_COVER
        }
        records: list[dict] = []
        metas: list[Meta] = []
        next_id = 10_000_000 + seed % 1000 * 1_000_000

        def emit(shape: str, d: dt.date) -> None:
            nonlocal next_id
            next_id += 1
            event, parsed, (y, m, dd) = _event_date(shape, d, rng)
            lat, lon = _coord(rng, 25, 48), _coord(rng, -124, -68)
            lat_s, lon_s = f"{lat:.4f}", f"{lon:.4f}"
            bad = rng.random()
            if bad < 0.04:
                lat_s = None
            elif bad < 0.06:
                lon_s = "bad-lon"
            elif bad < 0.07:
                lat_s = ""
            coords_ok = bad >= 0.07
            name, taxon = rng.choice(SPECIES)
            basis = rng.choice(BASIS)
            rec = {
                "gbifID": str(next_id),
                "eventDate": event,
                "decimalLatitude": lat_s,
                "decimalLongitude": lon_s,
                "individualCount": None if rng.random() < 0.15 else rng.randint(1, 40),
                "year": y,
                "month": m,
                "day": dd,
                "country": "US",
                "basisOfRecord": basis,
                "scientificName": name,
                "taxonKey": taxon,
                "recordedBy": f"observer_{rng.randint(1, 5000)}",
                "stateProvince": rng.choice(STATES),
            }
            meta = Meta(
                good=parsed is not None and coords_ok,
                date_only=parsed,
                covered=coords_ok and (_cell(lat), _cell(lon)) in self.geo_cells,
                basis=basis,
            )
            copies = 0
            if rng.random() < DUP_SHARE:
                copies = rng.choice((1, 1, 2))
            for _ in range(1 + copies):
                records.append(rec)
                metas.append(meta)

        for d in self.days:
            for _ in range(spec.per_day):
                emit(rng.choices(shapes, weights)[0], d)
            if spec.partial_share:
                for _ in range(round(spec.per_day * spec.partial_share)):
                    emit(rng.choice(PARTIAL_SHAPES), d)
        order = list(range(len(records)))
        if spec.order == "shuffled":
            rng.shuffle(order)
        elif spec.order != "by_date":
            raise ValueError(f"unknown order {spec.order!r}")
        self.records = [records[i] for i in order]
        self.metas = [metas[i] for i in order]
        self.encoded = [
            json.dumps(r, separators=(",", ":")).encode() for r in self.records
        ]

    # -- the page server's view ------------------------------------------

    def matching(self, params: dict[str, str]) -> list[int]:
        """Record positions a filtered page request sees, in page order
        (equality on the record's own field, compared as strings)."""
        items = list(params.items())
        return [
            i for i, r in enumerate(self.records)
            if all(str(r.get(k)) == v for k, v in items)
        ]

    # -- what a load of those records should produce ---------------------

    def expect_load(self, positions: list[int]) -> LoadExpectation:
        good_by_date: Counter = Counter()
        ids: Counter = Counter()
        good = matched = nbytes = 0
        for i in positions:
            m = self.metas[i]
            nbytes += len(self.encoded[i])
            if m.good:
                good += 1
                good_by_date[m.date_only] += 1
                ids[self.records[i]["gbifID"]] += 1
                matched += m.covered
        groups = [n for n in ids.values() if n > 1]
        return LoadExpectation(
            fetched=len(positions),
            good=good,
            good_by_date=good_by_date,
            dup_groups=len(groups),
            dup_rows=sum(groups),
            geo_matched=matched,
            input_bytes=nbytes,
        )

    def geocode_rows(self) -> list[tuple]:
        return [
            (float(la), float(lo), f"county_{la}_{lo}", f"city_{la}_{lo}")
            for la, lo in sorted(self.geo_cells)
        ]


GEOCODE_DDL = "cell_lat double, cell_lon double, county string, cityOrTown string"


def day_params(d: dt.date) -> dict[str, str]:
    return {"year": str(d.year), "month": str(d.month), "day": str(d.day)}


def pages_for(n_records: int) -> int:
    return max(1, math.ceil(n_records / PAGE_SIZE))


def table_counts(ds: Dataset, positions=None) -> Counter:
    """Rows a table loaded from ``positions`` (default: every record)
    holds per (date, basisOfRecord); copies stay, as the load keeps them."""
    out: Counter = Counter()
    for i in range(len(ds.metas)) if positions is None else positions:
        m = ds.metas[i]
        if m.good:
            out[(m.date_only, m.basis)] += 1
    return out


# request kinds in a fixed cycle, so every seed sends the same mix:
# 60% day (D), 25% month (M), 15% day + basisOfRecord (B) lookups
REQUEST_CYCLE = "DDMDBDDMDDDMDBDDMDMB"


def request_mix(counts: Counter, days: list[dt.date], seed: int, n: int) -> list[dict]:
    """``n`` sightings requests over a table holding ``counts`` rows, in
    the kinds of ``REQUEST_CYCLE``: day lookups skewed toward the most
    recent of ``days``, month lookups whose row cap binds, and day +
    basisOfRecord lookups. Each is ``{"params": {...}, "expect": rows the
    answer must have}``."""
    rng = random.Random(f"requests:{seed}")
    by_day: Counter = Counter()
    by_month: Counter = Counter()
    for (d, _basis), c in counts.items():
        by_day[d] += c
        by_month[(d.year, d.month)] += c
    out = []
    for i in range(n):
        d = days[-1 - min(int(rng.expovariate(1 / 4)), len(days) - 1)]
        kind = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        if kind == "D":
            params = {**day_params(d), "limit": "1000"}
            match = by_day[d]
        elif kind == "M":
            params = {"year": str(d.year), "month": str(d.month), "limit": "500"}
            match = by_month[(d.year, d.month)]
        else:
            basis = rng.choice(BASIS)
            params = {**day_params(d), "basisOfRecord": basis, "limit": "200"}
            match = counts[(d, basis)]
        out.append({"params": params, "expect": min(int(params["limit"]), match)})
    return out
