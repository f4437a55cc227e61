"""Measurement machinery: session lifetime, the closed-loop timer, the
resident-memory sampler, spans and the per-job-group Spark counters.

Nothing here imports the engine at module import time; ``start_session``
does, after ``run.py`` has pinned the environment the engine reads.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

CORES = 4
MASTER = f"local[{CORES}]"


def start_session(work: str):
    """The engine's own session factory on ``local[4]``. Scratch space
    (shuffle files, JVM temp files) stays under ``work``."""
    from icnarc_to_philips_linkage_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status API must still hold every job of a traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of every descendant of ``root``: the driver JVM
    (launched by spark-submit) and the Python workers it forks."""
    total, todo = 0, _children(root)
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """One thread sampling the process tree's RSS every ``INTERVAL`` s
    while enabled; ``peak_mb`` is the largest sum seen."""

    INTERVAL = 0.25

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)

    def resume(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._on.wait()
            if self._stop.is_set():
                return
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.INTERVAL)


# ------------------------------------------------------------- timing


@dataclass
class Op:
    """One materialising call (a Spark query) inside an iteration."""

    name: str
    seconds: float
    ok: bool


@dataclass
class Loop:
    """Closed loop, one client: the next iteration starts when the
    previous one has returned."""

    ops: list[Op] = field(default_factory=list)
    iterations: list[float] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def percentile(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between the closest ranks
    (numpy's default), so a single slowest sample does not set it."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# -------------------------------------------------------------- spans


@dataclass
class Span:
    name: str  # "<layer>.<call>", e.g. "operators.dedup.a1"
    start: float
    end: float
    parent: str
    run_id: str
    upstream: tuple[str, ...] = ()  # spans whose work this span's force recomputes
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; each span's Spark jobs are tagged with a job
    group named after the span so the status API can attribute them. All
    spans of one traced iteration share ``run_id`` and have the iteration
    as parent."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, upstream: tuple[str, ...] = ()):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.run_id}:{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sc.setJobGroup("untraced", "untraced")
            self.spans.append(Span(name, t0, t1, "iteration", self.run_id, tuple(upstream)))

    def dump(self, path: str) -> None:
        with open(path, "a") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "input_bytes": ("inputBytes", 1.0),
    "spill_bytes": ("diskBytesSpilled", 1.0),
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def attach_spark_counters(spark, spans: list[Span], run_id: str) -> None:
    """Read the local status REST API once the listener has caught up and
    add per-span job/stage/task counts and stage metrics to ``counters``."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    prefix = f"{run_id}:"
    deadline = time.time() + 15
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if (j.get("jobGroup") or "").startswith(prefix)]
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    by_span: dict[str, dict[str, float]] = {}
    for j in jobs:
        c = by_span.setdefault(j["jobGroup"][len(prefix):], {k: 0.0 for k in ["jobs", "stages", "tasks", *STAGE_FIELDS]})
        c["jobs"] += 1
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None:  # skipped: its shuffle output was reused
                continue
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"]
            for key, (fld, scale) in STAGE_FIELDS.items():
                c[key] += st.get(fld, 0) * scale
    for s in spans:
        s.counters.update(by_span.get(s.name, {}))


def self_values(spans: list[Span], key: str) -> dict[str, float]:
    """A span's own share of ``key`` (duration when key == "s"): its value
    minus the self values of the upstream spans its forced output
    recomputed (Spark re-runs the lazy lineage), floored at zero."""
    by_name = {s.name: s for s in spans}

    def raw(s: Span) -> float:
        return s.end - s.start if key == "s" else s.counters.get(key, 0.0)

    memo: dict[str, float] = {}

    def closure(name: str, seen: set[str]) -> None:
        for u in by_name[name].upstream:
            if u not in seen:
                seen.add(u)
                closure(u, seen)

    for s in spans:  # spans are appended in completion order: upstream first
        seen: set[str] = set()
        closure(s.name, seen)
        memo[s.name] = max(0.0, raw(s) - sum(memo[u] for u in seen))
    return memo
