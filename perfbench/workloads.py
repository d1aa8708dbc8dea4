"""The three workloads, each in an untraced and a traced (staged) form.

Untraced runs call the package's public entry points as a user would
(``pipeline.occurrence_scan``, ``serving_http.make_server``) and produce
the end-to-end metrics. Traced runs replay the same work one layer at a
time (source -> ``clean_occurrences`` -> ``geocode_broadcast_join`` ->
``write_partitioned`` -> ``register_load`` + ``upsert_parquet``; and
``plan_for_params`` -> ``to_json_records`` -> HTTP), materializing each
layer's output before the next call, and produce the per-layer metrics.
"""

from __future__ import annotations

import csv
import datetime as dt
import itertools
import json
import os
import pickle
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

from perfbench.gen import (
    DAY_PAGE_CAP,
    GEOCODE_DDL,
    PAGE_SIZE,
    SCHEMA_DDL,
    Dataset,
    Spec,
    day_params,
    pages_for,
    request_mix,
    table_counts,
)
from perfbench.harness import (
    JobCounter,
    RssSampler,
    Spans,
    Tally,
    descendants,
    dir_bytes,
    dir_files,
    median,
    tail,
    wait_gone,
)

LATENCY_LIMIT_MS = 1000.0  # API tail limit a ladder rate must meet
# The work a run times is fixed by --seconds alone, never by how fast the
# program goes, so that two commits are timed on the same operations.
DAY_RUNS_PER_10S = 4  # daily_etl day runs per 10 s; the fourth is a rerun
BACKFILL_RUNS_PER_10S = 2
# requests of the one closed-loop API client; 40 at 10 s, two whole
# cycles of the request mix
API_REQUESTS_PER_S = 4
WARMUP_REQUESTS = 24  # closed-loop API requests before anything is timed

# Dataset sizes per scale. "full" is what the benchmark measures; "tiny"
# is the smoke test's. Days hold equal record counts so that
# seeds change which records a run sees, not how much work it does.
SPECS = {
    "full": {
        # one day run fetches 4 of its <= 10 pages x 300 records
        "daily_etl": Spec(days=10, per_day=1000),
        "backfill_etl": Spec(days=5, per_day=700, partial_share=0.03),
        "sightings_api": Spec(days=14, per_day=450, order="by_date"),
    },
    "tiny": {
        "daily_etl": Spec(days=8, per_day=40),
        "backfill_etl": Spec(days=3, per_day=40, partial_share=0.05),
        "sightings_api": Spec(days=4, per_day=30, order="by_date"),
    },
}
# open-loop request rates (1/s); the middle one, well below what the
# server sustains, gives api_p50_ms and api_tail_ms; the top one is meant
# to exceed it
API_RATES = {"full": (1.0, 2.0, 16.0), "tiny": (1.0, 2.0, 4.0)}
TRACE_REQUESTS = {"full": 3, "tiny": 2}


@dataclass
class EtlOp:
    """One occurrence_scan: what it fetches and where it loads."""

    name: str
    params: dict
    max_pages: int
    positions: list[int]  # records the page server will hand out
    table: str
    inventory: str
    rejects: str


def _csv_rows(path: str) -> int:
    n = 0
    for f in dir_files(path, ".csv"):
        with open(f, newline="") as fh:
            n += max(0, sum(1 for _ in csv.reader(fh)) - 1)  # minus header
    return n


def _inventory(path: str) -> dict[dt.date, int]:
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return {}
    t = pq.read_table(path, columns=["available_date", "record_count"])
    return dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


class Bench:
    """One benchmark run: owns the load generator, the Spark session, the
    API server and the measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scale: str, work: str, cpus: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.scale, self.work, self.cpus = trace, scale, work, cpus
        self.spec = SPECS[scale][workload]
        self.tally = Tally()
        self.spans = Spans()
        self.rss = RssSampler()
        # what the final JSON line reports: (value, unit) by metric name
        self.metrics: dict[str, tuple[float, str]] = {}
        # the end-to-end metrics under the names the workload documents
        # give them (etl_day_p50_s, api_tail_ms, ...), for the report
        self.summary: dict[str, tuple[float, str]] = {}
        self.report: dict = {"phases_s": {}}
        self._t_mark = time.perf_counter()
        self.spark = None
        self._lg = None
        self._api = None
        self._n_ops = 0

    # -- lifecycle -------------------------------------------------------

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark as ``phase``."""
        now = time.perf_counter()
        self.report["phases_s"][phase] = now - self._t_mark
        self._t_mark = now

    def start_loadgen(self, spec: Spec) -> None:
        self._lg = subprocess.Popen(
            [sys.executable, "-c", "from perfbench.loadgen import main; main()"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.rss.skip.add(self._lg.pid)
        self.page_url = self._ask(spec, self.seed, self.cpus)
        self.mark("inputs")

    def _ask(self, *msg):
        pickle.dump(msg, self._lg.stdin)
        self._lg.stdin.flush()
        return pickle.load(self._lg.stdout)

    def lg(self, *cmd):
        out = self._ask(*cmd)
        if isinstance(out, Exception):
            raise out
        return out

    def start_session(self, ds: Dataset) -> None:
        """Set the session up cold, as every daily job does: launch the JVM
        through ``get_spark``, register the page source, build the geocode
        dim. Set-up time is all of it; session start the ``get_spark`` call."""
        from animaltrackingetls_spark.session import get_spark
        from animaltrackingetls_spark.sources.rest import PagedRestDataSource

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(PagedRestDataSource)
        self.dim = self.spark.createDataFrame(ds.geocode_rows(), GEOCODE_DDL)
        self.setup_s = time.perf_counter() - t0
        self.jobs = JobCounter(self.spark.sparkContext)
        self.mark("session")

    def close(self) -> None:
        if self._api is not None:
            self.stop_api()
        if self._lg is not None:
            # the load generator ends when its stdin closes
            try:
                self._lg.stdin.close()
            except OSError:
                pass
            try:
                self._lg.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._lg.kill()
                self._lg.wait(timeout=10)
            self._lg.stdout.close()
            self._lg = None
        from pyspark import SparkContext

        # stop the JVM even when set-up failed after launching it
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            # the JVM and its Python workers, which end after it does
            tree = descendants(proc.pid) if proc is not None else []
            if self.spark is not None:
                self.spark.stop()
            elif SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            self.spark = None
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            wait_gone(tree)
        self.mark("close")

    # -- ETL -------------------------------------------------------------

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def etl_op(self, ds: Dataset, name: str, params: dict, table: str,
               max_pages: int | None = None) -> EtlOp:
        self._n_ops += 1
        positions = ds.matching(params)
        if max_pages is None:
            max_pages = pages_for(len(positions))
        return EtlOp(
            name=name, params=params, max_pages=max_pages,
            positions=positions[: max_pages * PAGE_SIZE],
            table=self._dir(table, "data"),
            inventory=self._dir(table, "inventory"),
            rejects=self._dir(table, f"rejects-{self._n_ops}"),
        )

    def source(self, op: EtlOp):
        from pyspark.sql import functions as F

        df = (
            self.spark.read.format("paged_rest")
            .option("base_url", self.page_url)
            .option("schema_ddl", SCHEMA_DDL)
            .option("limit_per_request", str(PAGE_SIZE))
            .option("max_pages", str(op.max_pages))
            .load()
        )
        for k, v in op.params.items():
            df = df.filter(F.col(k) == int(v))
        return df

    def run_etl(self, ds: Dataset, op: EtlOp) -> float:
        """Untraced: one occurrence_scan with all three sinks; -> seconds."""
        from animaltrackingetls_spark.pipeline import occurrence_scan

        t0 = time.perf_counter()
        res = occurrence_scan(
            self.spark, self.source(op), op.table, op.rejects, op.inventory,
            self.dim, processed_at=op.name,
        )
        elapsed = time.perf_counter() - t0
        self.check_etl(ds, op, res.loaded_rows)
        return elapsed

    def check_etl(self, ds: Dataset, op: EtlOp, loaded: int) -> None:
        exp = ds.expect_load(op.positions)
        problems = []
        if loaded != exp.good:
            problems.append(f"loaded {loaded} rows, expected {exp.good}")
        rejected = _csv_rows(op.rejects)
        if loaded + rejected != exp.fetched:
            problems.append(f"good {loaded} + rejected {rejected} != fetched {exp.fetched}")
        inv = _inventory(op.inventory)
        wrong = {d: (inv.get(d), n) for d, n in exp.good_by_date.items() if inv.get(d) != n}
        if wrong:
            problems.append(f"inventory (got, want) per day: {dict(list(wrong.items())[:3])}")
        self.tally.record(op.name, problems)

    def run_etl_staged(self, ds: Dataset, op: EtlOp) -> dict:
        """Traced: the same load one layer at a time, each layer's output
        materialized before the next call; -> per-layer observations."""
        from pyspark.sql import functions as F

        from animaltrackingetls_spark.cleaning import clean_occurrences
        from animaltrackingetls_spark.enrichment import geocode_broadcast_join
        from animaltrackingetls_spark.inventory import (
            INVENTORY_COLUMNS,
            empty_inventory,
            register_load,
            upsert_parquet,
        )
        from animaltrackingetls_spark.io import write_partitioned, write_rejects_csv

        sp = self.spans
        held = []
        with sp.span("etl", op=op.name) as top:
            with sp.span("rest.fetch") as s:
                raw = self.source(op).persist()
                held.append(raw)
                s.counts["records"] = fetched = raw.count()
            with sp.span("cleaning") as s:
                res = clean_occurrences(raw)
                good = res.good.persist()
                rejected = res.rejected.persist()
                held += [good, rejected]
                s.counts["good"] = n_good = good.count()
                s.counts["rejected"] = n_rej = rejected.count()
            with sp.span("enrichment") as s:
                enriched = geocode_broadcast_join(
                    good.drop("county", "cityOrTown"), self.dim
                ).select(*good.columns).persist()
                held.append(enriched)
                s.counts["rows"] = enriched.count()
            with sp.span("io.write") as s:
                write_partitioned(enriched, op.table, ["date_only"])
                if n_rej:
                    write_rejects_csv(rejected, op.rejects)
            with sp.span("inventory.upsert") as s:
                updates = register_load(
                    empty_inventory(self.spark), enriched, processed_at=op.name
                )
                upsert_parquet(
                    self.spark, op.inventory,
                    updates.select(*INVENTORY_COLUMNS), ["available_date"],
                )
        matched = enriched.filter(F.col("county").isNotNull()).count()
        for df in held:
            df.unpersist()
        self.check_etl(ds, op, n_good)
        exp = ds.expect_load(op.positions)
        self.tally.record("enrichment", [] if matched == exp.geo_matched
                          else [f"{matched} rows geocoded, expected {exp.geo_matched}"])
        files = nbytes = 0
        for d in exp.good_by_date:
            part = os.path.join(op.table, f"date_only={d.isoformat()}")
            files += len(dir_files(part))
            nbytes += sum(os.path.getsize(p) for p in dir_files(part))
        top.counts.update(
            fetched=fetched, good=n_good, rejected=n_rej, matched=matched,
            files=files, bytes=nbytes, partitions=len(exp.good_by_date),
            inventory_rows=len(_inventory(op.inventory)),
        )
        return top.counts

    def audit(self, ds: Dataset, table: str, positions: list[int]) -> float:
        """``reconcile_inventory`` then a full-table ``duplicate_audit``,
        both checked against the generator; -> seconds."""
        from pyspark.sql import functions as F

        from animaltrackingetls_spark.inventory import reconcile_inventory
        from animaltrackingetls_spark.operators.dedup import duplicate_audit

        data, inv = self._dir(table, "data"), self._dir(table, "inventory")
        with self.spans.span("audit", op=f"audit-{table}") as top:
            with self.spans.span("inventory.reconcile"):
                reconcile_inventory(self.spark, data, inv, processed_at="reconcile")
            with self.spans.span("dedup.audit") as s:
                row = duplicate_audit(self.spark.read.parquet(data)).agg(
                    F.count(F.lit(1)).alias("groups"),
                    F.sum("duplicate_count").alias("rows"),
                ).first()
                s.counts["groups"] = row["groups"]
        exp = ds.expect_load(positions)
        problems = []
        if (row["groups"], row["rows"] or 0) != (exp.dup_groups, exp.dup_rows):
            problems.append(
                f"duplicate_audit found {row['groups']} groups / {row['rows']} rows, "
                f"expected {exp.dup_groups} / {exp.dup_rows}"
            )
        if _inventory(inv) != dict(exp.good_by_date):
            problems.append("reconciled inventory differs from the loaded rows")
        self.tally.record("audit", problems)
        return top.end - top.start

    def stored_ratio(self, ds: Dataset, table: str, positions: list[int]) -> float:
        stored = dir_bytes(self._dir(table, "data")) + dir_bytes(self._dir(table, "inventory"))
        return stored / ds.expect_load(positions).input_bytes

    # -- API -------------------------------------------------------------

    def start_api(self, table: str) -> str:
        from animaltrackingetls_spark.serving_http import make_server

        path = self._dir(table, "data")
        self._api = make_server(lambda: self.spark.read.parquet(path))
        # time each request inside the server from outside the package:
        # a subclass of its handler, installed on the server instance
        handler_ms = self.handler_ms = []

        class Timed(self._api.RequestHandlerClass):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
                t0 = time.perf_counter()
                try:
                    super().do_GET()
                finally:
                    handler_ms.append((time.perf_counter() - t0) * 1000)

        self._api.RequestHandlerClass = Timed
        self._api_thread = threading.Thread(target=self._api.serve_forever, daemon=True)
        self._api_thread.start()
        host, port = self._api.server_address[:2]
        return f"http://{host}:{port}/sightings"

    def stop_api(self) -> None:
        self._api.shutdown()
        self._api.server_close()
        self._api_thread.join(timeout=30)
        self._api = None

    def record_requests(self, outcomes: list, what: str) -> None:
        for o in outcomes:
            self.tally.record(what, [] if o.ok else ["wrong or failed answer"])

    def api_trace(self, url: str, table: str, reqs: list[dict]) -> dict:
        """Per request: handle_sightings untraced (with job counts), then
        plan_for_params -> to_json_records staged, then the same request
        over HTTP, whose overhead is the client's latency minus the time
        the server's handler took; plus a short open loop for the
        generator's lateness."""
        from animaltrackingetls_spark.serving import to_json_records
        from animaltrackingetls_spark.serving_http import handle_sightings, plan_for_params

        path = self._dir(table, "data")
        plain_ms, staged_ms, jobs, tasks, rows, nbytes = ([] for _ in range(6))
        for i, req in enumerate(reqs):
            with self.jobs.group("request") as jc:
                t0 = time.perf_counter()
                handle_sightings(self.spark.read.parquet(path), req["params"])
                plain_ms.append((time.perf_counter() - t0) * 1000)
            jobs.append(jc.jobs)
            tasks.append(jc.tasks)
            with self.spans.span("api.request", op=f"request-{i}") as top:
                with self.spans.span("serving.plan"):
                    df = plan_for_params(self.spark.read.parquet(path), req["params"])
                with self.spans.span("serving.collect") as s:
                    records = to_json_records(df, limit=int(req["params"]["limit"]))
                    s.counts["rows"] = len(records)
                with self.spans.span("serving.encode") as s:
                    s.counts["bytes"] = len(json.dumps(records).encode())
            staged_ms.append((top.end - top.start) * 1000)
            rows.append(len(records))
            nbytes.append(s.counts["bytes"])
            self.tally.record("staged request", [] if len(records) == req["expect"]
                              else [f"{len(records)} rows, expected {req['expect']}"])
        del self.handler_ms[:]
        http = self.lg("closed", url, reqs, len(reqs), 1)
        self.record_requests(http, "request")
        http_overhead = [
            (o.end - o.start) * 1000 - h for o, h in zip(http, self.handler_ms)
        ]
        late = self.lg("open", url, reqs, API_RATES[self.scale][0], 2.0)
        self.record_requests(late, "request")
        plan_ms = [x * 1000 for x in self.spans.self_by_name("serving.plan")]
        collect_ms = [x * 1000 for x in self.spans.self_by_name("serving.collect")]
        return {
            "serving.plan_ms": (median(plan_ms), "ms"),
            "serving.collect_ms": (median(collect_ms), "ms"),
            "serving.rows_returned": (median(rows), "count"),
            "serving.response_bytes": (median(nbytes), "bytes"),
            "spark.jobs_per_request": (median(jobs), "count"),
            "spark.tasks_per_request": (median(tasks), "count"),
            "http.overhead_ms": (median(http_overhead), "ms"),
            "loadgen.late_ms": (median([(o.start - o.due) * 1000 for o in late]), "ms"),
            "trace.api_staged_per_plain": (median(staged_ms) / median(plain_ms), "x"),
        }

    def ladder(self, url: str, reqs: list[dict], steps: list[tuple[float, float]]) -> dict:
        """Open loop at each (rate, seconds) step, each request timed from
        its due time; -> per-rate latency summary."""
        out = {}
        for rate, step_s in steps:
            outs = self.lg("open", url, reqs, rate, step_s)
            self.record_requests(outs, "request")
            lat = [(o.end - o.due) * 1000 for o in outs]
            late = [(o.start - o.due) * 1000 for o in outs]
            third = max(1, len(late) // 3)
            growing = median(late[-third:]) - median(late[:third]) > LATENCY_LIMIT_MS / 2
            pct, tail_ms = tail(lat)
            out[rate] = {
                "requests": len(outs),
                "ok": sum(o.ok for o in outs),
                "p50_ms": median(lat),
                "tail_pct": pct,
                "tail_ms": tail_ms,
                "late_p50_ms": median(late),
                "backlog_growing": growing,
                "meets_limit": (
                    all(o.ok for o in outs) and tail_ms <= LATENCY_LIMIT_MS and not growing
                ),
            }
        return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _etl_per_layer(bench: Bench, plain: list[tuple[EtlOp, float, object, int]],
                   staged: list[dict]) -> dict:
    """Per-layer ETL metrics from untraced ops (job/task and request
    counts; the last one, warm, for time) and staged ops (self times and
    counts)."""
    sp = bench.spans

    def self_s(name: str) -> float:
        return median(sp.self_by_name(name))

    fetch_s = sp.self_by_name("rest.fetch")
    fetched = [s.counts["records"] for s in sp.by_name("rest.fetch")]
    staged_total = median([s.end - s.start for s in sp.by_name("etl")])
    return {
        "session.start_s": (bench.session_start_s, "s"),
        "spark.jobs_per_day": (median([jc.jobs for _, _, jc, _ in plain]), "count"),
        "spark.tasks_per_day": (median([jc.tasks for _, _, jc, _ in plain]), "count"),
        "rest.fetch_s": (median(fetch_s), "s"),
        "rest.records_per_s": (sum(fetched) / sum(fetch_s), "1/s"),
        "rest.requests_per_page": (
            median([reqs / pages_for(len(op.positions)) for op, _, _, reqs in plain]),
            "ratio",
        ),
        "cleaning.s": (self_s("cleaning"), "s"),
        "cleaning.reject_share": (
            sum(c["rejected"] for c in staged) / sum(c["fetched"] for c in staged), "ratio",
        ),
        "enrichment.s": (self_s("enrichment"), "s"),
        "enrichment.match_share": (
            sum(c["matched"] for c in staged) / sum(c["good"] for c in staged), "ratio",
        ),
        "io.write_s": (self_s("io.write"), "s"),
        "io.files_written": (median([c["files"] for c in staged]), "count"),
        "io.files_per_partition": (
            sum(c["files"] for c in staged) / sum(c["partitions"] for c in staged), "count",
        ),
        "io.bytes_written": (median([c["bytes"] for c in staged]), "bytes"),
        "inventory.upsert_s": (self_s("inventory.upsert"), "s"),
        "inventory.rows": (max(c["inventory_rows"] for c in staged), "count"),
        "trace.etl_staged_per_plain": (
            staged_total / plain[-1][1], "x",
        ),
    }


def _plain_counted(bench: Bench, ds: Dataset, op: EtlOp):
    before = bench.lg("count")
    with bench.jobs.group(op.name) as jc:
        t = bench.run_etl(ds, op)
    return op, t, jc, bench.lg("count") - before


def _audit_layer(bench: Bench) -> dict:
    groups = [s.counts["groups"] for s in bench.spans.by_name("dedup.audit")]
    return {
        "inventory.reconcile_s": (median(bench.spans.self_by_name("inventory.reconcile")), "s"),
        "dedup.audit_s": (median(bench.spans.self_by_name("dedup.audit")), "s"),
        "dedup.groups_found": (groups[-1], "count"),
    }


def _runs(bench: Bench, per_10s: int) -> int:
    """Operations a run times: ``per_10s`` for every whole 10 s of
    ``--seconds``, at least ``per_10s``."""
    return per_10s * max(1, round(bench.seconds / 10))


def daily_etl(bench: Bench) -> None:
    ds = Dataset(bench.spec, bench.seed)
    bench.start_loadgen(bench.spec)
    bench.start_session(ds)

    def day_op(d: dt.date, name: str, table: str = "daily") -> EtlOp:
        return bench.etl_op(ds, name, day_params(d), table, max_pages=DAY_PAGE_CAP)

    def schedule():
        """Days in order; every fourth run re-loads the day loaded three
        runs earlier (the reference's idempotent rerun)."""
        done: list[dt.date] = []
        for d in ds.days[:-1]:
            if len(done) % 4 == 3:
                done.append(done[-3])
                yield done[-1], day_op(done[-1], f"rerun-{done[-1].isoformat()}")
            done.append(d)
            yield d, day_op(d, f"day-{d.isoformat()}")

    if not bench.trace:
        bench.run_etl(ds, day_op(ds.days[-1], "warmup", table="warmup"))
        bench.mark("warmup")
        # the schedule's first runs, as many as --seconds asks for (all of
        # them at most), reruns included
        items = list(itertools.islice(schedule(), _runs(bench, DAY_RUNS_PER_10S)))
        times = [bench.run_etl(ds, op) for _, op in items]
        bench.mark("window")
        positions = [i for d in dict.fromkeys(d for d, _ in items)
                     for i in ds.matching(day_params(d))]
        audit_s = bench.audit(ds, "daily", positions)
        bench.mark("audit")
        pct, tail_s = tail(times)
        bench.report.update(day_run_s=times, etl_day_tail_pct=pct)
        bench.summary.update(
            etl_day_p50_s=(median(times), "s"),
            etl_day_tail_s=(tail_s, "s"),
            audit_s=(audit_s, "s"),
        )
        bench.metrics.update(
            op_p50_ms=(median(times) * 1000, "ms"),
            stored_bytes_per_input_byte=(bench.stored_ratio(ds, "daily", positions), "ratio"),
        )
        return

    # the first untraced run also warms the session up; the staged run
    # is the schedule's third day
    ops = schedule()
    items = [next(ops) for _ in range(3)]
    plain = [_plain_counted(bench, ds, op) for _, op in items[:2]]
    staged = [bench.run_etl_staged(ds, items[2][1])]
    days = list(dict.fromkeys(d for d, _ in items))
    positions = [i for d in days for i in ds.matching(day_params(d))]
    bench.audit(ds, "daily", positions)
    url = bench.start_api("daily")
    reqs = request_mix(table_counts(ds, positions), days, bench.seed, TRACE_REQUESTS[bench.scale])
    bench.metrics.update(_etl_per_layer(bench, plain, staged))
    bench.metrics.update(_audit_layer(bench))
    bench.metrics.update(bench.api_trace(url, "daily", reqs))


def backfill_etl(bench: Bench) -> None:
    ds = Dataset(bench.spec, bench.seed)
    bench.start_loadgen(bench.spec)
    bench.start_session(ds)
    year = {"year": str(ds.days[0].year)}
    bench.run_etl(ds, bench.etl_op(ds, "warmup", day_params(ds.days[0]), "warmup"))
    bench.mark("warmup")
    everything = list(range(len(ds.records)))

    if not bench.trace:
        tables = [f"backfill-{i}" for i in range(_runs(bench, BACKFILL_RUNS_PER_10S))]
        times = [bench.run_etl(ds, bench.etl_op(ds, t, year, t)) for t in tables]
        bench.mark("window")
        audit_s = bench.audit(ds, tables[-1], everything)
        bench.mark("audit")
        stored = bench.stored_ratio(ds, tables[-1], everything)
        records_per_s = len(everything) / median(times)
        bench.report.update(backfill_runs=len(times), backfill_records=len(everything))
        bench.summary.update(
            backfill_records_per_s=(records_per_s, "1/s"),
            audit_s=(audit_s, "s"),
            stored_bytes_per_input_byte=(stored, "ratio"),
        )
        bench.metrics.update(
            op_p50_ms=(median(times) * 1000, "ms"),
            stored_bytes_per_input_byte=(stored, "ratio"),
        )
        return

    plain = [_plain_counted(bench, ds, bench.etl_op(ds, "plain", year, "plain"))]
    staged = [bench.run_etl_staged(ds, bench.etl_op(ds, "staged", year, "staged"))]
    bench.audit(ds, "staged", everything)
    url = bench.start_api("staged")
    reqs = request_mix(table_counts(ds), ds.days, bench.seed, TRACE_REQUESTS[bench.scale])
    bench.metrics.update(_etl_per_layer(bench, plain, staged))
    bench.metrics.update(_audit_layer(bench))
    bench.metrics.update(bench.api_trace(url, "staged", reqs))


def sightings_api(bench: Bench) -> None:
    from animaltrackingetls_spark.pipeline import occurrence_scan

    ds = Dataset(bench.spec, bench.seed)
    bench.start_loadgen(bench.spec)
    bench.start_session(ds)
    everything = list(range(len(ds.records)))
    # the served table: one load of every generated record
    raw = bench.spark.createDataFrame(ds.records, SCHEMA_DDL)
    res = occurrence_scan(
        bench.spark, raw, bench._dir("api", "data"), None,
        bench._dir("api", "inventory"), bench.dim, processed_at="load",
    )
    exp = ds.expect_load(everything)
    bench.tally.record("table load", [] if res.loaded_rows == exp.good
                       else [f"loaded {res.loaded_rows}, expected {exp.good}"])
    url = bench.start_api("api")
    reqs = request_mix(table_counts(ds), ds.days, bench.seed, 400)
    bench.mark("table load")
    # request latency keeps falling over the first requests as the JVM
    # compiles the serving path: warm it up with closed-loop clients
    # before anything is timed
    bench.record_requests(
        bench.lg("closed", url, reqs, WARMUP_REQUESTS, bench.cpus), "warmup request",
    )
    bench.mark("warmup")

    if not bench.trace:
        # the ladder, for the report: 0.1, 0.3 and 0.1 of --seconds at the
        # low, middle and top rate
        low, mid_rate, top = API_RATES[bench.scale]
        ladder = bench.ladder(url, reqs, [(low, 0.1 * bench.seconds),
                                          (mid_rate, 0.3 * bench.seconds),
                                          (top, 0.1 * bench.seconds)])
        bench.mark("ladder")
        # then one client waiting for each answer, for the JSON line: on a
        # shared machine open-loop latency swings with every stall as
        # requests start to overlap, while one client's latency tracks the
        # service time
        closed = bench.lg("closed", url, reqs, round(API_REQUESTS_PER_S * bench.seconds), 1)
        bench.record_requests(closed, "request")
        bench.mark("window")
        mid = ladder[mid_rate]
        passing = [r for r in ladder if ladder[r]["meets_limit"]]
        bench.report.update(
            ladder={str(r): v for r, v in ladder.items()},
            api_tail_pct=mid["tail_pct"], closed_loop_requests=len(closed),
        )
        bench.summary.update(
            api_p50_ms=(mid["p50_ms"], "ms"),
            api_tail_ms=(mid["tail_ms"], "ms"),
            api_max_rps_ok=(max(passing) if passing else 0.0, "1/s"),
        )
        bench.metrics.update(
            op_p50_ms=(median([(o.end - o.start) * 1000 for o in closed]), "ms"),
            stored_bytes_per_input_byte=(bench.stored_ratio(ds, "api", everything), "ratio"),
        )
        return

    day = ds.days[-1]
    plain = [_plain_counted(bench, ds, bench.etl_op(ds, "plain", day_params(day), "plain",
                                                     max_pages=DAY_PAGE_CAP))]
    staged = [bench.run_etl_staged(ds, bench.etl_op(ds, "staged", day_params(day), "staged",
                                                     max_pages=DAY_PAGE_CAP))]
    bench.audit(ds, "api", everything)
    bench.metrics.update(_etl_per_layer(bench, plain, staged))
    bench.metrics.update(_audit_layer(bench))
    bench.metrics.update(bench.api_trace(url, "api", reqs[: TRACE_REQUESTS[bench.scale]]))


WORKLOADS = {
    "daily_etl": daily_etl,
    "backfill_etl": backfill_etl,
    "sightings_api": sightings_api,
}
