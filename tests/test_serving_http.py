"""HTTP serving shell: routes, dynamic filters through the wire, caps."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from animaltrackingetls_spark.serving_http import handle_sightings, make_server


@pytest.fixture(scope="module")
def sightings_df(spark):
    return spark.createDataFrame(
        [
            (1, 2024, 6, 1, "US", 5.0),
            (2, 2024, 6, 1, "MX", 6.0),
            (3, 2024, 6, 2, "US", 7.0),
            (4, 2023, 6, 1, "US", 8.0),
        ],
        "id long, year int, month int, day int, country string, v double",
    )


@pytest.fixture(scope="module")
def server_url(sightings_df):
    server = make_server(lambda: sightings_df)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return resp.status, json.loads(resp.read())


def test_health(server_url):
    status, body = _get(f"{server_url}/health")
    assert (status, body) == (200, {"status": "ok"})


def test_sightings_dynamic_filters_over_http(server_url):
    status, body = _get(f"{server_url}/sightings?year=2024&month=6&day=1")
    assert status == 200
    assert sorted(r["id"] for r in body) == [1, 2]


def test_sightings_extra_column_filter(server_url):
    _, body = _get(f"{server_url}/sightings?year=2024&country=US")
    assert sorted(r["id"] for r in body) == [1, 3]


def test_unknown_route_404_and_bad_param_400(server_url):
    with pytest.raises(urllib.error.HTTPError) as e404:
        _get(f"{server_url}/nope")
    assert e404.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e400:
        _get(f"{server_url}/sightings?year=banana")
    assert e400.value.code == 400


def test_limit_is_capped(sightings_df):
    out = handle_sightings(sightings_df, {"limit": "999999"})
    assert len(out) == 4  # applied, and bounded by MAX_LIMIT internally
    out1 = handle_sightings(sightings_df, {"limit": "1"})
    assert len(out1) == 1


def test_request_predicates_push_down_to_parquet_scan(spark, tmp_path, sightings_df):
    """The server holds a DataFrame PROVIDER, so each request plans a
    fresh query — this is only worth anything if the request's
    year/month/day actually reach the scan. Assert PushedFilters on a
    parquet-backed provider for exactly the param columns."""
    from animaltrackingetls_spark.plans.audit import pushed_filters
    from animaltrackingetls_spark.serving_http import plan_for_params

    path = str(tmp_path / "sightings")
    sightings_df.write.parquet(path)
    provider = lambda: spark.read.parquet(path)  # noqa: E731

    plan = plan_for_params(
        provider(), {"year": "2024", "month": "6", "day": "1", "country": "US"}
    )
    pushed = " ".join(pushed_filters(plan))
    for col in ("year", "month", "day", "country"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"
    # and the filtered result is still right through the full handler
    recs = handle_sightings(
        provider(), {"year": "2024", "month": "6", "day": "1", "country": "US"}
    )
    assert [r["id"] for r in recs] == [1]


def test_concurrent_overlapping_requests(server_url):
    """ThreadingHTTPServer + thread-safe Spark actions: 16 overlapping
    requests with different predicates must each get their own correct
    answer (no cross-request state, no wedged handler)."""
    import concurrent.futures

    cases = [
        (f"{server_url}/sightings?year=2024&month=6&day=1", [1, 2]),
        (f"{server_url}/sightings?year=2024&country=US", [1, 3]),
        (f"{server_url}/sightings?year=2023", [4]),
        (f"{server_url}/sightings?country=MX", [2]),
    ] * 4
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(lambda c: (_get(c[0]), c[1]), cases))
    for (status, body), expect in results:
        assert status == 200
        assert sorted(r["id"] for r in body) == expect


def _get_any(url):
    """status + raw body, 4xx/5xx included (urllib raises on those)."""
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_unknown_filter_column_is_400_not_unfiltered(server_url):
    status, body = _get_any(f"{server_url}/sightings?usr_id=5")
    assert status == 400
    assert b"unknown filter column" in body


def test_blank_param_is_400_not_silently_dropped(server_url):
    status, _ = _get_any(f"{server_url}/sightings?year=")
    assert status == 400


def test_negative_limit_is_400(server_url):
    status, _ = _get_any(f"{server_url}/sightings?limit=-1")
    assert status == 400


def test_malformed_numeric_filter_is_400(server_url):
    """A value that cannot be cast to its numeric column answers 400,
    not a 500 carrying the JVM's ANSI cast error."""
    status, body = _get_any(f"{server_url}/sightings?id=abc")
    assert status == 400, body
    assert b"id" in body and b"integer" in body
    status, _ = _get_any(f"{server_url}/sightings?v=abc")
    assert status == 400


def test_out_of_range_date_filter_is_400(server_url):
    """A year past the column's type range answers 400, not a 500
    carrying py4j's NumberFormatException."""
    status, body = _get_any(f"{server_url}/sightings?year=99999999999999999999")
    assert status == 400, body
    assert b"out of range" in body
    # past int (the column type) but inside long: still refused
    status, _ = _get_any(f"{server_url}/sightings?month=2147483648")
    assert status == 400
    status, body = _get_any(f"{server_url}/sightings?year=%202024%20&month=6")
    assert status == 200 and sorted(r["id"] for r in json.loads(body)) == [1, 2, 3]
