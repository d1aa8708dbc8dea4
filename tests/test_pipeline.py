"""End-to-end §3.1 lifecycle: REST fixture source → clean → enrich →
load → register → rejects, all through the public pipeline API."""

from __future__ import annotations

import json
import os
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.pipeline import occurrence_scan
from animaltrackingetls_spark.sources import PagedRestDataSource


@pytest.fixture(scope="module")
def raw_from_rest(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pipeline_pages")
    recs = [
        {"gbifID": "1", "eventDate": "2024-06-01T10:00:00", "decimalLatitude": 40.2,
         "decimalLongitude": -74.3, "individualCount": 2, "basisOfRecord": "OBS"},
        {"gbifID": "2", "eventDate": "2024-06-02", "decimalLatitude": 40.7,
         "decimalLongitude": -74.1, "individualCount": None, "basisOfRecord": "OBS"},
        {"gbifID": "3", "eventDate": "garbage", "decimalLatitude": 40.0,
         "decimalLongitude": -74.0, "individualCount": 1, "basisOfRecord": "OBS"},
        {"gbifID": "4", "eventDate": "2024-06-01", "decimalLatitude": None,
         "decimalLongitude": -74.0, "individualCount": 1, "basisOfRecord": "OBS"},
    ]
    (d / "page_0.json").write_text(json.dumps({"results": recs, "endOfRecords": True}))
    spark.dataSource.register(PagedRestDataSource)
    return (
        spark.read.format("paged_rest")
        .option("fixture_dir", str(d))
        .option(
            "schema_ddl",
            "gbifID string, eventDate string, decimalLatitude double, "
            "decimalLongitude double, individualCount bigint, basisOfRecord string",
        )
        .load()
    )


def test_full_lifecycle(spark, raw_from_rest, tmp_path):
    out_dir = os.path.join(str(tmp_path), "occ")
    rej_dir = os.path.join(str(tmp_path), "rejects")
    inv_path = os.path.join(str(tmp_path), "inventory")
    dim = spark.createDataFrame(
        [(40.0, -74.0, "Mercer", "Trenton"), (41.0, -74.0, "Bergen", "Hackensack")],
        "cell_lat double, cell_lon double, county string, cityOrTown string",
    )
    res = occurrence_scan(
        spark, raw_from_rest,
        output_dir=out_dir, rejects_dir=rej_dir, inventory_path=inv_path,
        geocode_dim=dim, processed_at="run1",
    )

    # clean split: 2 good (1, 2), 2 rejected (3: bad date, 4: bad coords)
    good = {r.gbifID: r for r in res.good.collect()}
    assert set(good) == {"1", "2"}
    assert good["2"].individualCount == 1  # defaulted
    assert good["1"].county == "Mercer"    # enriched via broadcast dim
    assert good["2"].county == "Bergen"

    hist = {r["_failure_reason"]: r.n for r in res.reject_histogram.collect()}
    assert hist == {"unparseable_eventDate": 1, "invalid_coordinates": 1}

    # load: partitioned by date_only, both days present
    loaded = spark.read.parquet(out_dir)
    assert res.loaded_rows == 2
    assert {str(r.date_only) for r in loaded.collect()} == {"2024-06-01", "2024-06-02"}

    # register: one inventory row per day with month-name table names
    inv = {str(r.available_date): (r.table_name, r.record_count)
           for r in res.inventory.collect()}
    assert inv == {"2024-06-01": ("june012024", 1), "2024-06-02": ("june022024", 1)}

    # rejects sidecar on disk
    back = spark.read.option("header", True).csv(rej_dir)
    assert back.count() == 2


def test_rerun_is_idempotent(spark, raw_from_rest, tmp_path):
    out_dir = os.path.join(str(tmp_path), "occ")
    inv_path = os.path.join(str(tmp_path), "inventory")
    for run in ("run1", "run2"):
        res = occurrence_scan(
            spark, raw_from_rest, output_dir=out_dir,
            inventory_path=inv_path, processed_at=run,
        )
    # re-run overwrote, not duplicated — counts unchanged, batch2 wins
    assert res.loaded_rows == 2
    inv = {str(r.available_date): r.processed_at for r in res.inventory.collect()}
    assert set(inv.values()) == {"run2"}


def test_empty_input_short_circuits(spark):
    from animaltrackingetls_spark.schema import FINAL_COLUMNS

    empty = spark.createDataFrame(
        [], "gbifID string, eventDate string, decimalLatitude string, "
            "decimalLongitude string, individualCount string",
    )
    res = occurrence_scan(spark, empty)
    assert res.loaded_rows == 0 and res.inventory is None
    assert res.good.count() == 0 and res.rejected.count() == 0
    # schema contract holds on the empty path too
    assert res.good.columns == FINAL_COLUMNS
    assert res.reject_histogram.columns == ["_failure_reason", "n"]
    assert "_failure_reason" in res.rejected.columns


def test_loaded_rows_counts_this_run_only(spark, raw_from_rest, tmp_path):
    out_dir = os.path.join(str(tmp_path), "occ")
    first = occurrence_scan(spark, raw_from_rest, output_dir=out_dir)
    assert first.loaded_rows == 2
    # a second run into the same dir must not count surviving partitions twice
    day2 = raw_from_rest.filter(F.col("gbifID") == "1").withColumn(
        "eventDate", F.lit("2024-07-09")
    )
    second = occurrence_scan(spark, day2, output_dir=out_dir)
    assert second.loaded_rows == 1
    # and the physical dataset now holds both days' partitions
    assert spark.read.parquet(out_dir).count() == 3


# ---------------------------------------------------------------------------
# one snapshot per run, against a source that changes between reads
# ---------------------------------------------------------------------------

PAGE_DDL = (
    "gbifID string, eventDate string, decimalLatitude double, "
    "decimalLongitude double, individualCount bigint, basisOfRecord string"
)


def _pass_records(k: int) -> list[dict]:
    """Record set of the k-th pass: sizes, days and rejects all differ
    from one pass to the next."""
    recs = []
    for i in range(7 + 2 * k):
        recs.append({
            "gbifID": f"{k}-{i}",
            "eventDate": "garbage" if i % 4 == 3 else f"2024-0{6 + k}-0{1 + (i + k) % 3}",
            "decimalLatitude": None if (i + k) % 5 == 4 else 40.0 + i / 10,
            "decimalLongitude": -74.0,
            "individualCount": 1,
            "basisOfRecord": "OBS",
        })
    return recs


class ShiftingPageServer:
    """Stdlib HTTP page server (GBIF ``limit``/``offset`` paging) whose
    answer moves on every pass over the pages, like a live API between
    two scans: the n-th request for an offset is served from
    ``_pass_records(n)``. ``hits`` counts requests per offset."""

    def __init__(self):
        self.hits: Counter = Counter()
        lock = threading.Lock()
        hits = self.hits

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
                q = parse_qs(urlparse(self.path).query)
                limit, offset = int(q["limit"][0]), int(q["offset"][0])
                with lock:
                    n = hits[offset]
                    hits[offset] += 1
                recs = _pass_records(n)
                body = json.dumps({
                    "results": recs[offset:offset + limit],
                    "endOfRecords": offset + limit >= len(recs),
                }).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, fmt: str, *args) -> None:
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}/occurrence/search"

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self._thread.join(timeout=10)
        assert not self._thread.is_alive()


@pytest.fixture
def shifting_pages():
    server = ShiftingPageServer()
    yield server
    server.close()


def _csv_rows(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.endswith(".csv"):
            with open(os.path.join(path, name)) as fh:
                n += sum(1 for _ in fh) - 1  # minus the header
    return n


@pytest.mark.parametrize("sinks", ["output_only", "all_sinks"])
def test_one_snapshot_per_run(spark, tmp_path, shifting_pages, sinks):
    """Every output of one run comes from one read of the source: the
    server sees one request per planned page, and loaded, rejected, the
    histogram and the inventory all describe that one answer."""
    spark.dataSource.register(PagedRestDataSource)
    limit, max_pages = 3, 4
    raw = (
        spark.read.format("paged_rest")
        .option("base_url", shifting_pages.url)
        .option("schema_ddl", PAGE_DDL)
        .option("limit_per_request", str(limit))
        .option("max_pages", str(max_pages))
        .load()
    )
    out_dir = str(tmp_path / "occ")
    rej_dir = str(tmp_path / "rejects") if sinks == "all_sinks" else None
    inv_path = str(tmp_path / "inventory") if sinks == "all_sinks" else None
    res = occurrence_scan(
        spark, raw, output_dir=out_dir, rejects_dir=rej_dir,
        inventory_path=inv_path, processed_at="run1",
    )

    served = _pass_records(0)
    on_disk = spark.read.parquet(out_dir)
    assert res.loaded_rows == on_disk.count()
    per_day = {r.date_only: r["count"] for r in on_disk.groupBy("date_only").count().collect()}
    if sinks == "all_sinks":
        inv = {r.available_date: r.record_count for r in res.inventory.collect()}
        assert inv == per_day
        rejected = _csv_rows(rej_dir)
    else:
        assert res.inventory is None
        rejected = res.rejected.count()
    assert res.loaded_rows + rejected == len(served)
    assert sum(r.n for r in res.reject_histogram.collect()) == rejected
    assert {r.gbifID for r in res.good.collect()} == {r.gbifID for r in on_disk.collect()}
    # one pass: every planned page requested exactly once, even after
    # the returned frames were read again above
    assert dict(shifting_pages.hits) == {p * limit: 1 for p in range(max_pages)}


# ---------------------------------------------------------------------------
# a crash inside the catalog swap, then a rerun
# ---------------------------------------------------------------------------


def _day(spark, day: int, n: int):
    return spark.createDataFrame(
        [(f"{day}-{i}", f"2024-06-{day:02d}", 40.0, -74.0, 1) for i in range(n)],
        "gbifID string, eventDate string, decimalLatitude double, "
        "decimalLongitude double, individualCount bigint",
    )


@pytest.mark.parametrize("crash_at", [1, 2])
def test_catalog_swap_crash_then_rerun(spark, tmp_path, monkeypatch, crash_at):
    """A crash at either rename of ``upsert_parquet``'s swap, then a
    rerun of the same day, leaves the catalog equal to what
    ``reconcile_inventory`` derives from the data."""
    from animaltrackingetls_spark.inventory import reconcile_inventory

    out_dir, inv_path = str(tmp_path / "occ"), str(tmp_path / "inventory")
    occurrence_scan(spark, _day(spark, 1, 2), output_dir=out_dir,
                    inventory_path=inv_path, processed_at="run1")

    real_replace = os.replace
    calls = []

    def crashing_replace(src, dst):
        calls.append(src)
        if len(calls) == crash_at:
            raise OSError("injected crash")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crashing_replace)
    with pytest.raises(OSError, match="injected crash"):
        occurrence_scan(spark, _day(spark, 2, 3), output_dir=out_dir,
                        inventory_path=inv_path, processed_at="run2")
    monkeypatch.setattr(os, "replace", real_replace)

    res = occurrence_scan(spark, _day(spark, 2, 3), output_dir=out_dir,
                          inventory_path=inv_path, processed_at="run2")
    inv = {r.available_date: (r.table_name, r.record_count) for r in res.inventory.collect()}
    truth = reconcile_inventory(spark, out_dir, str(tmp_path / "reconciled"))
    assert inv == {r.available_date: (r.table_name, r.record_count) for r in truth.collect()}
    assert len(inv) == 2
    assert not [d for d in os.listdir(tmp_path) if ".old-" in d]
