"""Measurement plumbing: job/task counts, spans, peak memory of the
process tree and waiting for it to end, and the tally of checked
operations.

Everything here observes the program from outside, through public
PySpark APIs and ``/proc``; nothing is hooked into the package.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it; the maximum when there are ten or fewer."""
    s = sorted(xs)
    if not s:
        return 0.0, float("nan")
    k = len(s) - 11
    if k < 0:
        return 100.0, s[-1]
    return 100.0 * (k + 1) / len(s), s[k]


# ---------------------------------------------------------------------------
# Spark job/task counts per operation
# ---------------------------------------------------------------------------


@dataclass
class JobCount:
    jobs: int = 0
    tasks: int = 0


class JobCounter:
    """Counts the jobs and completed tasks of one operation by running it
    under its own job group and reading ``statusTracker()`` afterwards."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        count = JobCount()
        self.sc.setJobGroup(gid, name)
        try:
            yield count
        finally:
            self.sc.setJobGroup(f"perfbench-idle-{self._n}", "idle")
        count.jobs, count.tasks = self._settle(gid)

    def _settle(self, gid: str, timeout: float = 10.0) -> tuple[int, int]:
        # the status store is fed by an asynchronous listener: wait until
        # every job of the group has reported its end
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            ids = st.getJobIdsForGroup(gid)
            infos = [st.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status != "RUNNING" for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        tasks = 0
        for info in infos:
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(ids), tasks


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""
    counts: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder: name, start, end, parent, operation id and
    counts taken at the same boundary. Written out once, at exit."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else ""
        sp = Span(name, time.perf_counter(), parent=parent, op=op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            covered, last = 0.0, sp.start
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, last, sp.start), min(b, sp.end)
                if b > a:
                    covered += b - a
                    last = b
            out.append(sp.end - sp.start - covered)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def self_by_name(self, name: str) -> list[float]:
        st = self.self_times()
        return [st[i] for i, sp in enumerate(self.spans) if sp.name == name]

    def dump(self, path: str) -> None:
        st = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for sp, self_s in zip(self.spans, st):
            row = asdict(sp)
            row["start"] -= t0
            row["end"] -= t0
            row["self_s"] = self_s
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# peak memory of the program's processes
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int, skip: frozenset[int] | set[int] = frozenset()) -> list[int]:
    """``root`` and every process below it, leaving out ``skip`` pids and
    their subtrees."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    """Wait until none of ``pids`` runs any more; kill what outlives
    ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed memory (PSS) of this process and its
    descendants (the JVM and Python workers), excluding ``skip`` pids and
    their subtrees, and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.skip: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(_pss_bytes(pid) for pid in descendants(os.getpid(), self.skip))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# checked operations
# ---------------------------------------------------------------------------


class Tally:
    """Operations attempted and failed; a failure records why."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, what: str, problems: list[str]) -> bool:
        """One checked operation; it failed if any check found a problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{what}: {'; '.join(problems)}")
        return not problems


def dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in dir_files(path, ""))
