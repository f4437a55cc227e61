"""Clinical-curation benchmark for icnarc_to_philips_linkage_spark.

Run from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all                # every workload, one row each
    python3 perfbench/run.py --all --trace 1      # per-layer numbers

One run: set up ``SETUP_REPS`` times (session start, input generation from
the seed, first touch of every input; ``setup_s`` is their median), run
one untimed warm-up iteration, then a closed loop with one client for
``--seconds`` (whole iterations; the last one may overrun), then output
checks outside the timed region. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Generated inputs and Spark scratch live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import uuid
from statistics import median

import harness
from harness import Loop, RssSampler, Tracer, percentile
from layers import per_layer_metrics
from workloads import WORKLOADS, OpFailed, Timer

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "icnarc_to_philips_linkage_spark"
SETUP_REPS = 3
# the first iteration after a session start compiles plans and starts
# the Python workers, so it is run untimed. Every run then times at least
# two iterations: with a run length shorter than two iterations, each run
# has the same structure whatever the machine's speed.
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_p95_s": "s",
}


def _pin_environment(root: str, work: str) -> None:
    """Everything the engine and Spark read from the environment, pinned
    before either is imported, so scratch files stay in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, root)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run of one workload: set-ups, warm-up, timed loop,
    output checks and metrics. ``close`` stops the session."""

    def __init__(self, workload: str, seed: int, root: str, work: str, **size) -> None:
        self.name = workload
        self.wl = WORKLOADS[workload](work, **size)
        self.seed = seed
        self.root = root
        self.work = work
        self.spark = None
        self.setups: list[float] = []
        self.session_cold = 0.0

    def set_up(self) -> None:
        """SETUP_REPS times: (re)start the session, generate the inputs
        from the seed, touch every input; then the untimed warm-up."""
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = harness.start_session(self.work)
            if rep == 0:
                self.session_cold = time.perf_counter() - t0
            self.wl.generate(self.seed)
            self.wl.warm(self.spark)
            self.setups.append(time.perf_counter() - t0)
        warm = []
        for _ in range(WARMUP_ITERATIONS):
            t0 = time.perf_counter()
            try:
                self.wl.iteration(self.spark, Timer(Loop()))
            except OpFailed:
                pass  # the timed loop counts the failure
            warm.append(time.perf_counter() - t0)
        _log(f"{self.name}: setups {[round(s, 2) for s in self.setups]}, "
             f"warm-up iterations {[round(s, 2) for s in warm]}")

    def timed_loop(self, seconds: float, trace: bool, rss) -> None:
        """Closed loop, one client: whole iterations until ``seconds`` have
        passed and at least MIN_ITERATIONS have run. With ``trace``
        untraced and traced iterations alternate instead, and at least one
        of each runs."""
        spark, sc = self.spark, self.spark.sparkContext
        self.run_id = uuid.uuid4().hex[:8]
        self.loop, self.results = Loop(), []
        self.traced: list[dict] = []
        self.tracers: list[Tracer] = []
        self.untraced: list[tuple[str, float]] = []

        def more() -> bool:
            if time.perf_counter() - t_start < seconds:
                return True
            if trace:
                return not self.traced
            return len(self.loop.iterations) < MIN_ITERATIONS

        rss.resume()
        t_start = time.perf_counter()
        k = 0
        while more():
            spark.catalog.clearCache()
            if trace and k % 2 == 1:
                tr = Tracer(spark, f"{self.run_id}-t{k}")
                t0 = time.perf_counter()
                counts = self.wl.traced_iteration(spark, tr)
                wall = time.perf_counter() - t0
                harness.attach_spark_counters(spark, tr.spans, tr.run_id)
                self.tracers.append(tr)
                self.traced.append({"spans": tr.spans, "counts": counts, "wall": wall})
            else:
                group = f"{self.run_id}-u{k}"
                sc.setJobGroup(f"{group}:iteration", "iteration")
                timer = Timer(self.loop)
                t0 = time.perf_counter()
                try:
                    self.wl.iteration(spark, timer)
                except OpFailed as e:
                    _log(f"{self.name}: op {e} failed: {e.__cause__!r}")
                self.loop.iterations.append(time.perf_counter() - t0)
                self.untraced.append((group, self.loop.iterations[-1]))
                self.results.append(timer.results)
            k += 1
        rss.pause()

    def failed(self) -> int:
        bad = self.wl.check(self.spark, self.results)
        for name in bad:
            _log(f"{self.name}: output check failed: {name}")
        return self.loop.failed + len(bad)

    def end_to_end(self) -> dict[str, dict]:
        loop = self.loop
        lat = [o.seconds for o in loop.ops if o.ok]
        n_ops = len(loop.ops) // max(1, len(loop.iterations))
        p95 = percentile(lat, 0.95)
        by_op: dict[str, list[float]] = {}
        for o in loop.ops:
            by_op.setdefault(o.name, []).append(o.seconds)
        _log(f"{self.name}: {len(lat)} op samples, {sum(x > p95 for x in lat)} beyond p95; "
             "op medians " + " ".join(f"{n}={median(v):.3f}" for n, v in by_op.items()))
        _log(f"{self.name}: iterations " + " ".join(f"{s:.3f}" for s in loop.iterations))
        values = {
            "setup_s": median(self.setups),
            "rows_per_s": median([self.wl.input_rows / s for s in loop.iterations]),
            "queries_per_s": median([n_ops / s for s in loop.iterations]),
            "query_p50_s": median(lat),
            "query_p95_s": p95,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    def per_layer(self, peak_rss_mb: float) -> dict[str, dict]:
        path = os.path.join(self.root, ".perfbench_work", f"trace-{self.name}-{self.run_id}.jsonl")
        for tr in self.tracers:
            tr.dump(path)
        return per_layer_metrics(self.spark, self.traced, self.untraced, self.session_cold, peak_rss_mb)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()


def run_once(workload: str, seed: int, seconds: float, trace: bool, root: str, work: str, **size) -> dict:
    run = Run(workload, seed, root, work, **size)
    with RssSampler() as rss:
        try:
            run.set_up()
            run.timed_loop(seconds, trace, rss)
            failed = run.failed()
            metrics = run.per_layer(rss.peak_mb) if trace else run.end_to_end()
        finally:
            run.close()
    return {"correct": failed == 0, "attempted": run.loop.attempted, "failed": failed, "metrics": metrics}


def _stop_gateway() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Each workload in its own process, one table row per workload."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    rows = []
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        if out.returncode != 0:
            _log(f"{w['name']}: exit code {out.returncode}")
            return out.returncode
        rows.append((w["name"], json.loads(out.stdout.strip().splitlines()[-1])))
    for name, res in rows:
        m = res["metrics"]
        ratio = res["failed"] / res["attempted"]
        cells = [f"{k}={m[k]['value']:.4g} {m[k]['unit']}" for k in names if k in m]
        print(f"{name:<10} failed_ops_ratio={ratio:.4g} ratio  " + "  ".join(cells))
    return 0 if all(r["correct"] for _, r in rows) else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--all", action="store_true", help="run every workload of BENCHMARK.json")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        _log(f"no {PACKAGE}/ in {root}: run from the repository root")
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        p.error("--workload or --all is required")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    _pin_environment(root, work)
    try:
        result = run_once(args.workload, args.seed, args.seconds or 10, bool(args.trace), root, work)
    finally:
        _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
