"""Per-layer metrics of a traced run, from the benchmark's own spans around
each layer's public calls and from the Spark status API.

A layer a workload never calls reads 0 on that workload.
"""

from __future__ import annotations

from statistics import median

import harness
from harness import CORES, Span, self_values

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.readers.s": "s",
    "sources.xml.parse_s": "s",
    "sources.xml.records_per_s": "records/s",
    "sources.xml.spark_jobs": "count",
    "sources.writers.write_s": "s",
    "sources.writers.bytes_per_input_byte": "ratio",
    "sources.writers.files": "count",
    "operators.clean.s": "s",
    "operators.clean.rows_out": "rows",
    "operators.dedup.s": "s",
    "operators.dedup.merge_ratio": "ratio",
    "operators.dedup.shuffle_bytes": "B",
    "operators.link.s": "s",
    "operators.link.match_ratio": "ratio",
    "operators.link.cohort_keep_ratio": "ratio",
    "operators.link.shuffle_bytes": "B",
    "operators.derive.s": "s",
    "operators.reports.s": "s",
    "operators.reports.spark_jobs": "count",
    "operators.profile.s": "s",
    "streaming.chartevents.s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_query": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.core_utilization": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _one_traced_iteration(spans: list[Span], n: dict[str, float]) -> dict[str, float]:
    own_s = self_values(spans, "s")
    own_shuffle = self_values(spans, "shuffle_write_bytes")

    def layer(prefix: str, values: dict[str, float]) -> float:
        return sum(v for k, v in values.items() if k.startswith(prefix + "."))

    def jobs(prefix: str) -> float:
        # jobs a span launched itself; recomputed upstream work fuses
        # into those jobs' stages instead of adding jobs
        return sum(s.counters.get("jobs", 0.0) for s in spans if s.name.startswith(prefix + "."))

    def per_query(prefix: str) -> float:
        vals = [v for k, v in own_s.items() if k.startswith(prefix + ".")]
        return median(vals) if vals else 0.0

    parse_s = layer("sources.xml", own_s)
    q = n.get("queries", 0)
    return {
        "sources.readers.s": layer("sources.readers", own_s),
        "sources.xml.parse_s": parse_s,
        "sources.xml.records_per_s": _ratio(n.get("xml_records", 0), parse_s),
        "sources.xml.spark_jobs": jobs("sources.xml"),
        "sources.writers.write_s": layer("sources.writers", own_s),
        "sources.writers.bytes_per_input_byte": _ratio(n.get("written_bytes", 0), n.get("input_bytes", 0)),
        "sources.writers.files": n.get("written_files", 0),
        "operators.clean.s": layer("operators.clean", own_s),
        "operators.clean.rows_out": n.get("icnarc_clean", 0) + n.get("philips_clean", 0),
        "operators.dedup.s": layer("operators.dedup", own_s),
        "operators.dedup.merge_ratio": _ratio(
            n.get("philips_merged", 0) + n.get("icustays", 0), n.get("philips_clean", 0) + n.get("linked", 0)),
        "operators.dedup.shuffle_bytes": layer("operators.dedup", own_shuffle),
        "operators.link.s": layer("operators.link", own_s),
        "operators.link.match_ratio": _ratio(n.get("linked", 0), n.get("icnarc_clean", 0)),
        "operators.link.cohort_keep_ratio": _ratio(n.get("events_kept", 0), n.get("events_read", 0)),
        "operators.link.shuffle_bytes": layer("operators.link", own_shuffle),
        "operators.derive.s": layer("operators.derive", own_s),
        "operators.reports.s": layer("operators.reports", own_s),
        "operators.reports.spark_jobs": jobs("operators.reports"),
        "operators.profile.s": layer("operators.profile", own_s),
        "streaming.chartevents.s": layer("streaming.chartevents", own_s),
        "plans.build_s": per_query("plans.build"),
        "plans.eager_jobs": jobs("plans.build"),
        "plans.plan_s": per_query("plans.plan"),
        "plans.exec_s": per_query("plans.exec"),
        "plans.jobs_per_query": _ratio(jobs("plans.exec"), q),
    }


def per_layer_metrics(spark, traced: list[dict], untraced: list[tuple[str, float]],
                      session_cold: float, peak_rss_mb: float) -> dict[str, dict]:
    """Median over the run's traced iterations of each layer metric;
    ``spark.*`` come from the untraced iterations (one job group each).
    ``peak_rss_mb`` is the driver JVM and Python workers' peak resident
    memory over the timed loop; G1 grows the heap at run-dependent times,
    which makes it too unsteady for an end-to-end bound."""
    rows = [_one_traced_iteration(t["spans"], t["counts"]) for t in traced]
    values = {k: median([r[k] for r in rows]) for k in rows[0]}
    values["session.start_s"] = session_cold

    per_iter = []
    for group, wall in untraced:
        span = Span("iteration", 0.0, wall, "run", group)
        harness.attach_spark_counters(spark, [span], group)
        c = span.counters
        per_iter.append({
            "spark.jobs": c.get("jobs", 0.0),
            "spark.stages": c.get("stages", 0.0),
            "spark.tasks": c.get("tasks", 0.0),
            "spark.executor_run_s": c.get("executor_run_s", 0.0),
            "spark.core_utilization": _ratio(c.get("executor_run_s", 0.0), wall * CORES),
            "spark.shuffle_write_bytes": c.get("shuffle_write_bytes", 0.0),
            "spark.shuffle_read_bytes": c.get("shuffle_read_bytes", 0.0),
            "spark.input_bytes": c.get("input_bytes", 0.0),
            "spark.spill_bytes": c.get("spill_bytes", 0.0),
            "spark.gc_s": c.get("gc_s", 0.0),
        })
    for k in per_iter[0]:
        values[k] = median([r[k] for r in per_iter])
    values["spark.peak_rss_mb"] = peak_rss_mb
    values["trace.overhead_s"] = median([t["wall"] for t in traced]) - median([w for _, w in untraced])
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
