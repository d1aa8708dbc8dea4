"""Benchmark command.

    python3 perfbench/run.py --workload <daily_etl|backfill_etl|sightings_api>
        --seed <n> --seconds <s> --trace <0|1> [--scale full|tiny]

Run from the repository root. It builds the inputs from ``--seed``,
drives ``animaltrackingetls_spark`` through its public functions, checks
the outputs, and prints a report followed, as the last line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run artifacts (tables, spans, the full report) go under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["daily_etl", "backfill_etl", "sightings_api"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def prepare_env(work: Path) -> int:
    """Environment the program and its JVM/Python workers inherit; keeps
    every temporary file inside ``work``. -> Spark core count."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    pythonpath = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), pythonpath) if p)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    return cpus


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "animaltrackingetls_spark" / "__init__.py").is_file():
        print(f"animaltrackingetls_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import pyspark

    from perfbench.workloads import WORKLOADS, Bench

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = Path.cwd() / ".perfbench_work"
    work = base / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus = prepare_env(work)
    load_before = os.getloadavg()

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.scale, str(work), cpus)
    error = None
    with bench.rss:
        try:
            WORKLOADS[args.workload](bench)
            bench.mark("rest")
        except Exception as err:  # noqa: BLE001 — report, then fail the run
            import traceback

            traceback.print_exc()
            error = f"{type(err).__name__}: {err}"
        finally:
            bench.close()

    metrics = dict(bench.metrics)
    t = bench.tally
    error_share = t.failed / t.attempted if t.attempted else 1.0
    peak_rss_mb = bench.rss.peak / 2**20
    setup_s = getattr(bench, "setup_s", math.nan)
    if args.trace:
        metrics["session.start_s"] = (getattr(bench, "session_start_s", math.nan), "s")
    else:
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        bench.summary.update(
            setup_s=(setup_s, "s"),
            error_share=(error_share, "ratio"),
            peak_rss_mb=(peak_rss_mb, "MB"),
        )
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "nproc": os.cpu_count(), "spark_graft_cpus": cpus,
        "pyspark": pyspark.__version__,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "attempted": t.attempted, "failed": t.failed,
        "failures": t.reasons + ([error] if error else []),
        **bench.report,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in bench.summary.items()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    results = base / "results"
    results.mkdir(exist_ok=True)
    (results / f"{name}.json").write_text(json.dumps(report, indent=1, default=str))
    if args.trace and bench.spans.spans:
        bench.spans.dump(str(results / f"{name}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    for key, val in report.items():
        if key not in ("end_to_end", "metrics"):
            print(f"# {key}: {val}")
    for key, (val, unit) in bench.summary.items():
        print(f"# {key} = {val:.6g} {unit}")
    if error or t.attempted == 0:
        print(f"run failed: {error or 'nothing was attempted'}", file=sys.stderr)
        return 1
    bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"metrics not measured: {bad}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": t.failed == 0,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main(sys.argv[1:])
    print(f"# wall_s: {time.perf_counter() - t0:.1f}", file=sys.stderr)
    sys.exit(code)
