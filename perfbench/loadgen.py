"""The load-generator process: a GBIF-like page server and the API clients.

It runs apart from the program under test, as a child process of its own,
so serving pages and timing API requests does not compete with the Spark
driver for its interpreter lock. It uses no more client threads than
Spark has cores (``nproc`` by default) and answers commands sent over its
stdin; see :func:`main`. It ends when its stdin closes.
"""

from __future__ import annotations

import json
import pickle
import sys
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlencode, urlsplit

from perfbench.gen import Dataset

REQUEST_TIMEOUT_S = 60.0


class PageServer:
    """Offset/limit JSON pages over a generated dataset.

    Equality params other than ``limit``/``offset`` filter the records
    before the window is cut, as the GBIF API does; every request is
    counted.
    """

    def __init__(self, ds: Dataset):
        self.ds = ds
        self._lock = threading.Lock()
        self._filtered: dict[tuple, list[int]] = {}
        self.requests = 0
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
                params = dict(parse_qsl(urlsplit(self.path).query))
                body = server.page(params)
                try:
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                except (BrokenPipeError, ConnectionResetError):
                    pass  # a reader stopped early (a limit or isEmpty probe)

            def log_message(self, fmt: str, *args) -> None:
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}/occurrence/search"

    def page(self, params: dict[str, str]) -> bytes:
        limit = int(params.pop("limit", 300))
        offset = int(params.pop("offset", 0))
        key = tuple(sorted(params.items()))
        with self._lock:
            positions = self._filtered.get(key)
        if positions is None:
            positions = self.ds.matching(params)
            with self._lock:
                self._filtered[key] = positions
        window = positions[offset: offset + limit]
        with self._lock:
            self.requests += 1
        end = b"true" if offset + limit >= len(positions) else b"false"
        return (
            b'{"results":['
            + b",".join(self.ds.encoded[i] for i in window)
            + b'],"endOfRecords":' + end + b"}"
        )

    def count(self) -> int:
        with self._lock:
            return self.requests

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)


# ---------------------------------------------------------------------------
# API clients
# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    due: float
    start: float
    end: float
    ok: bool
    rows: int


def fetch_checked(base_url: str, req: dict) -> tuple[bool, int, float]:
    """GET one sightings request; -> (ok, rows, end time).

    ``ok`` needs HTTP 200, exactly ``req["expect"]`` rows, and every row
    equal to the request on each filter. The end time is taken when the
    body has been read, before the checks run.
    """
    params = req["params"]
    url = f"{base_url}?{urlencode(params)}"
    try:
        with urllib.request.urlopen(url, timeout=REQUEST_TIMEOUT_S) as resp:
            body = resp.read()
            status = resp.status
    except (urllib.error.URLError, OSError):
        return False, 0, time.perf_counter()
    end = time.perf_counter()
    if status != 200:
        return False, 0, end
    try:
        rows = json.loads(body)
    except ValueError:
        return False, 0, end
    ok = isinstance(rows, list) and len(rows) == req["expect"]
    if ok:
        filters = {k: v for k, v in params.items() if k != "limit"}
        ok = all(str(row.get(k)) == v for row in rows for k, v in filters.items())
    return ok, len(rows) if isinstance(rows, list) else 0, end


def open_loop(base_url: str, reqs: list[dict], rate: float, seconds: float,
              workers: int) -> list[Outcome]:
    """Send ``rate`` requests per second for ``seconds``, each on its
    schedule whether or not earlier ones have returned, through at most
    ``workers`` connections at a time."""
    n = max(1, round(rate * seconds))
    t0 = time.perf_counter() + 0.05
    lock = threading.Lock()
    nxt = [0]
    out: list[Outcome | None] = [None] * n

    def worker() -> None:
        while True:
            with lock:
                i = nxt[0]
                if i >= n:
                    return
                nxt[0] += 1
            due = t0 + i / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            start = time.perf_counter()
            ok, rows, end = fetch_checked(base_url, reqs[i % len(reqs)])
            out[i] = Outcome(due, start, end, ok, rows)

    threads = [threading.Thread(target=worker) for _ in range(min(workers, n))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [o for o in out if o is not None]


def closed_loop(base_url: str, reqs: list[dict], n: int,
                clients: int) -> list[Outcome]:
    """``clients`` clients, each sending the next of ``n`` requests (cycling
    through ``reqs``) when its last one returns; -> outcomes in send order."""
    lock = threading.Lock()
    nxt = [0]
    out: list[Outcome | None] = [None] * n

    def worker() -> None:
        while True:
            with lock:
                i = nxt[0]
                if i >= n:
                    return
                nxt[0] += 1
            start = time.perf_counter()
            ok, rows, end = fetch_checked(base_url, reqs[i % len(reqs)])
            out[i] = Outcome(start, start, end, ok, rows)

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def main() -> None:
    """Process entry (``python3 -c "from perfbench.loadgen import main;
    main()"``). Reads pickled messages from stdin and writes a pickled
    answer to stdout for each. The first message is ``(spec, seed,
    workers)``: it builds the page dataset, starts the page server and
    answers its URL. Then it serves commands until stdin closes:

    * ``("count",)`` -> page requests served so far
    * ``("open", url, reqs, rate, seconds)`` -> ``[Outcome]``
    * ``("closed", url, reqs, n, clients)`` -> ``[Outcome]``

    A command that fails answers its exception.
    """
    inp, out = sys.stdin.buffer, sys.stdout.buffer
    sys.stdout = sys.stderr  # stdout carries the answers only

    def send(obj) -> None:
        pickle.dump(obj, out)
        out.flush()

    spec, seed, workers = pickle.load(inp)
    server = PageServer(Dataset(spec, seed))
    try:
        send(server.url)
        while True:
            try:
                cmd, *args = pickle.load(inp)
            except EOFError:
                break
            try:
                if cmd == "count":
                    send(server.count())
                elif cmd == "open":
                    send(open_loop(*args, workers=workers))
                elif cmd == "closed":
                    send(closed_loop(*args))
                else:
                    send(ValueError(f"unknown command {cmd!r}"))
            except BrokenPipeError:
                break
            except Exception as err:  # noqa: BLE001 — the caller raises it
                send(err)
    finally:
        server.close()
