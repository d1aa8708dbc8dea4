from __future__ import annotations

import pytest

from animaltrackingetls_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8] + whole-stage codegen OFF for the unit suite only, to
    # keep the suite's wall time down. The tests run hundreds of
    # distinct plan shapes over tiny frames; codegen compiles a fresh
    # class per shape and never earns the compile time back. The
    # production paths (occurrence_scan, serving, perfbench,
    # __spark_entry__) keep codegen ON via get_spark defaults; no test
    # asserts codegen spans (test_privacy checks Exchange/Python only).
    s = get_spark(
        app_name="animaltrackingetls_spark_tests",
        master="local[8]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.codegen.wholeStage": "false",
        },
    )
    yield s
