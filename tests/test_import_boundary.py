"""The paper path's imports load only the paper path.

A fresh interpreter imports the day run, the HTTP server, the REST
source, the session factory and the duplicate audit, then lists the
package modules it loaded. Anything past that set is an import that
drags an unrelated subsystem (and its start-up cost) into every run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PAPER_PATH = {
    "animaltrackingetls_spark",
    "animaltrackingetls_spark.cleaning",
    "animaltrackingetls_spark.enrichment",
    "animaltrackingetls_spark.functions",
    "animaltrackingetls_spark.functions.coercion",
    "animaltrackingetls_spark.functions.datetime_expr",
    "animaltrackingetls_spark.inventory",
    "animaltrackingetls_spark.io",
    "animaltrackingetls_spark.pipeline",
    "animaltrackingetls_spark.schema",
    "animaltrackingetls_spark.serving",
    "animaltrackingetls_spark.serving_http",
    "animaltrackingetls_spark.session",
    "animaltrackingetls_spark.sources",
    "animaltrackingetls_spark.sources.rest",
}
# duplicate_audit's own module; dedup imports every other operator
# module lazily, inside the functions that use it
AUDIT = {
    "animaltrackingetls_spark.operators",
    "animaltrackingetls_spark.operators.dedup",
}

_PROBE = """
import json, sys
import animaltrackingetls_spark.pipeline
import animaltrackingetls_spark.serving_http
import animaltrackingetls_spark.sources.rest
import animaltrackingetls_spark.session
from animaltrackingetls_spark.operators.dedup import duplicate_audit
print(json.dumps(sorted(
    m for m in sys.modules
    if m == "animaltrackingetls_spark"
    or m.startswith("animaltrackingetls_spark.")
)))
"""


def test_paper_path_imports_load_only_paper_path_modules():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
        check=True,
    )
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert loaded == PAPER_PATH | AUDIT, (
        f"extra: {sorted(loaded - PAPER_PATH - AUDIT)}; "
        f"missing: {sorted((PAPER_PATH | AUDIT) - loaded)}"
    )
