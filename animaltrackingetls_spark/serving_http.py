"""HTTP serving shell over the serving-layer queries.

The reference exposes its date-filtered sightings query as a Flask
endpoint (butterflyetl.py:53-116: parse year/month/day request args →
filter → JSON records response). This is the same surface on the
stdlib's threading HTTP server — no web framework ships in this
environment, and the engine only needs a thin edge: every request
composes `serving.dynamic_filters` onto a DataFrame the caller provides
and collects through the capped `serving.to_json_records` edge.

Spark posture: the server holds a zero-argument DataFrame *provider*
(not a materialized result), so each request plans a fresh filtered
query and Catalyst pushes the request's predicates into the scan. Spark
sessions are thread-safe for concurrent actions; ThreadingHTTPServer
handlers may overlap freely.

Routes:
  GET /health                  → {"status": "ok"}
  GET /sightings?year=&month=&day=&limit=&<col>=<val>
                               → JSON array of records (capped)
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from decimal import Decimal, InvalidOperation
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ByteType,
    DataType,
    DecimalType,
    FractionalType,
    IntegerType,
    IntegralType,
    LongType,
    ShortType,
)

from .serving import dynamic_filters, to_json_records

DEFAULT_LIMIT = 1_000
MAX_LIMIT = 10_000
_RESERVED_PARAMS = {"year", "month", "day", "limit"}
_DATE_PARAMS = ("year", "month", "day")
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}
_INT_RE = re.compile(r"\s*[+-]?\d+\s*")


def _typed_value(name: str, raw: str, dtype: DataType):
    """Parse a request value for a numeric column, or raise ValueError
    (the handler's 400). Left to Spark, a malformed or out-of-range
    value fails at collect time inside the JVM (ANSI cast error, or a
    py4j NumberFormatException for a literal past 64 bits) and the
    request answers 500. Integers must fit the column's type; decimals
    must fit its integer digits. Non-numeric columns pass through."""
    if isinstance(dtype, IntegralType):
        if not _INT_RE.fullmatch(raw):
            raise ValueError(f"{name}: {raw!r} is not an integer")
        value = int(raw)
        bits = _INT_BITS[type(dtype)]
        if not -(1 << (bits - 1)) <= value < 1 << (bits - 1):
            raise ValueError(
                f"{name}: {raw!r} is out of range for {dtype.simpleString()}"
            )
        return value
    if isinstance(dtype, FractionalType):
        try:
            value = Decimal(raw.strip())
        except InvalidOperation:
            raise ValueError(f"{name}: {raw!r} is not a number") from None
        if not isinstance(dtype, DecimalType):
            return float(value)
        if not value.is_finite() or (
            abs(value) >= Decimal(10) ** (dtype.precision - dtype.scale)
        ):
            raise ValueError(
                f"{name}: {raw!r} is out of range for {dtype.simpleString()}"
            )
        return value
    return raw


def plan_for_params(df: DataFrame, params: dict[str, str]) -> DataFrame:
    """Request params → filtered (uncollected) frame: year/month/day go
    through F4 dynamic filters, any other parameter becomes an extra
    equality filter on a same-named column. Split from
    :func:`handle_sightings` so the PLAN is testable: against a parquet
    provider the request predicates must reach the scan as
    PushedFilters (asserted in test_serving_http.py) — the whole point
    of holding a provider instead of a materialized frame.

    Values are checked against ``df.schema`` (no Spark job): year,
    month and day must be integers and, like any numeric filter, fit
    their column's type; see :func:`_typed_value`."""
    extra = {k: v for k, v in params.items() if k not in _RESERVED_PARAMS}
    unknown = [k for k in extra if k not in df.columns]
    if unknown:
        # a typo'd filter must be a 400, not a silent full-table answer
        # masquerading as a filtered one
        raise ValueError(f"unknown filter column(s): {unknown}")
    types = {f.name: f.dataType for f in df.schema.fields}
    dates = {}
    for k in _DATE_PARAMS:
        if k in params and k in types:
            # dynamic_filters compares these as ints whatever the
            # column type, so a non-integral column still gets the
            # 64-bit literal range
            dtype = types[k] if isinstance(types[k], IntegralType) else LongType()
            dates[k] = _typed_value(k, params[k], dtype)
    extra = {k: _typed_value(k, v, types[k]) for k, v in extra.items()}
    return dynamic_filters(df, **dates, extra=extra)


def handle_sightings(
    df: DataFrame, params: dict[str, str], max_limit: int = MAX_LIMIT
) -> list[dict]:
    """Pure request → records function (testable without sockets):
    :func:`plan_for_params` + the capped ``serving.to_json_records``
    edge (limit ≤ ``max_limit``, so a crafted request cannot pull a
    table through the driver)."""
    limit = min(int(params.get("limit", DEFAULT_LIMIT)), max_limit)
    if limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")
    return to_json_records(plan_for_params(df, params), limit=limit)


def make_server(
    df_provider: Callable[[], DataFrame],
    host: str = "127.0.0.1",
    port: int = 0,
) -> ThreadingHTTPServer:
    """Build (not start) the serving shell; ``port=0`` binds an ephemeral
    port (read it back from ``server.server_address``). Run with
    ``server.serve_forever()`` — typically on a daemon thread next to the
    driver — and stop with ``server.shutdown()``."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
            split = urlsplit(self.path)
            if split.path == "/health":
                self._reply(200, {"status": "ok"})
                return
            if split.path != "/sightings":
                self._reply(404, {"error": f"no route {split.path}"})
                return
            try:
                records = handle_sightings(
                    df_provider(),
                    dict(parse_qsl(split.query, keep_blank_values=True)),
                )
            except ValueError as err:  # bad int() / unknown column / limit
                self._reply(400, {"error": str(err)})
                return
            except Exception as err:  # noqa: BLE001 — a handler thread
                # must ANSWER (500), never die with a connection reset:
                # Spark analysis errors are request errors here, not
                # server-fatal conditions
                self._reply(500, {"error": f"{type(err).__name__}: {err}"})
                return
            self._reply(200, records)

        def _reply(self, status: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt: str, *args) -> None:  # quiet test runs
            pass

    return ThreadingHTTPServer((host, port), Handler)
