"""The benchmark's workloads, each driven through the engine's public API.

A workload generates its inputs from the seed, runs one iteration as a
sequence of materialising calls (``ops``: each writes a table or returns
a report, so Spark runs every query in full), checks the outputs outside
the timed region, and runs a traced iteration whose spans force each
layer's output separately.

- ``curation``: the paper's batch job end to end. ICNARC XML → wide CMP
  table → derived outcomes (EP2); link keys → cleaned → fragment merge →
  link → stay merge (EP1); stays ⋈ CMP (J3) with validation and cohort
  summaries; chartevents EAV → cohort → typed value → decorated (EP3),
  per-stay/variable stats, windowed stats and a partitioned write.
  Chosen because the clinical operators, the XML path (Python workers)
  and the sources do all of the work here and the registry does none.
- ``query_mix``: sweeps of a fixed list of oracle-backed registry queries
  over TPC-H-shaped tables. Chosen because per-query fixed cost
  (planning, eager driver-side jobs, job launch) dominates here and the
  clinical pipelines are not run.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from collections.abc import Callable
from datetime import timezone

import numpy as np

import gen
from harness import Loop, Op, Tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Timer:
    """Times each op of an untraced iteration; an exception fails the op
    and ends the iteration (later ops depend on earlier outputs)."""

    def __init__(self, loop: Loop) -> None:
        self.loop = loop
        self.results: dict[str, object] = {}

    def op(self, name: str, thunk) -> None:
        t0 = time.perf_counter()
        try:
            out = thunk()
        except Exception as e:  # a failed op is counted, not fatal
            self.loop.ops.append(Op(name, time.perf_counter() - t0, False))
            raise OpFailed(name) from e
        self.loop.ops.append(Op(name, time.perf_counter() - t0, True))
        self.results[name] = out


class OpFailed(Exception):
    pass


def _passes(check, *args) -> bool:
    """A check that raises (say, on a table that was never written) fails."""
    try:
        return bool(check(*args))
    except Exception as e:  # noqa: BLE001 - any error is a failed check
        print(f"[perfbench] check {getattr(check, '__name__', check)} raised {e!r}", file=sys.stderr)
        return False


# ---------------------------------------------------------------- curation


def _schemas():
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    def s(*cols):
        return StructType([StructField(n, t, True) for n, t in cols])

    return {
        "icnarc": s(("ICNARC number", LongType()), ("Unit ID", IntegerType()),
                    ("CIS Patient ID", LongType()), ("CIS Episode ID", LongType()),
                    ("Readmission during this hospital stay", StringType()), ("Key", LongType())),
        "philips": s(("encounterId", LongType()), ("ptCensusId", LongType()), ("age", IntegerType()),
                     ("inTime", StringType()), ("outTime", StringType()), ("tNumber", StringType()),
                     ("lengthOfStay (mins)", DoubleType()), ("gender", StringType())),
        "ww": s(("ICNARC Number", LongType()), ("Unit ID", IntegerType()), ("Corrected encID", LongType())),
        "issues": s(("encounterId_CIS", LongType()), ("encounterId_Adjusted", LongType()),
                    ("clinicalUnitId", DoubleType()), ("Explanation", StringType())),
        "cmp": s(("CODE", StringType()), ("Description", StringType())),
        "key": s(("Variable", StringType()), ("Intervention name (longLabel)", StringType()),
                 ("interventionId", LongType()), ("Attribute name (shortLabel)", StringType()),
                 ("attributeId", LongType()), ("Back end location (ICCA table)", StringType()),
                 ("Frontend Source", StringType())),
    }


# the decorated chartevents table is written partitioned by source table
# (PtAssessment / PtLabResult / none for dim misses)
PARTITION = "Back end location (ICCA table)"


class Curation:
    name = "curation"

    def __init__(self, work: str, n_stays: int = 800, n_xml_files: int = 4, n_events: int = 30_000):
        self.inputs = os.path.join(work, "in")
        self.outputs = os.path.join(work, "out")
        self.size = (n_stays, n_xml_files, n_events)
        self.expect: gen.Expect | None = None

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.expect = gen.curation_inputs(np.random.default_rng(seed), self.inputs, *self.size)

    @property
    def input_rows(self) -> int:
        return self.expect.rows

    def _read(self, spark):
        from icnarc_to_philips_linkage_spark.sources import readers

        d, sc = self.inputs, _schemas()
        return {
            "icnarc": readers.read_csv(spark, f"{d}/icnarc_cis_ids.csv", schema=sc["icnarc"]),
            "philips": readers.read_tsv_report(
                spark, f"{d}/encounter_summary.rpt", "encounterId",
                schema=sc["philips"], date_cols=["inTime", "outTime"]),
            "ww": readers.read_csv(spark, f"{d}/ww_errors.csv", schema=sc["ww"]),
            "issues": readers.read_csv(spark, f"{d}/encounter_issues.csv", schema=sc["issues"]),
            "cmp": readers.read_csv(spark, f"{d}/cmp_properties.csv", schema=sc["cmp"]),
            "key": readers.read_csv(spark, f"{d}/interventions_key.csv", schema=sc["key"]),
            "assessments": spark.read.parquet(f"{d}/assessments"),
            "labs": spark.read.parquet(f"{d}/labs"),
        }

    def iteration(self, spark, t: Timer) -> None:
        from icnarc_to_philips_linkage_spark import pipelines
        from icnarc_to_philips_linkage_spark.operators import link, profile, reports
        from icnarc_to_philips_linkage_spark.sources import writers
        from icnarc_to_philips_linkage_spark.streaming import chartevents

        o = self.outputs
        src = self._read(spark)
        t.op("ingest", lambda: writers.write_parquet(
            pipelines.run_icnarc_ingest(spark, f"{self.inputs}/xml", src["cmp"]), f"{o}/icnarc_wide"))
        ep1 = pipelines.run_linkage_pipeline(
            src["icnarc"], src["philips"], src["ww"], src["issues"], dedup_mode="first")
        t.op("icustays", lambda: writers.write_parquet(ep1["icustays"], f"{o}/icustays"))
        t.op("validation", lambda: ep1["validation"].collect())
        stays = spark.read.parquet(f"{o}/icustays")
        wide = spark.read.parquet(f"{o}/icnarc_wide")
        t.op("philips_summary", lambda: reports.philips_summary(stays).collect())
        t.op("icnarc_summary", lambda: reports.icnarc_summary(link.link_wide_cmp(stays, wide)).collect())
        events = pipelines.run_chartevents_pipeline(
            src["assessments"], src["labs"], stays.select("encounterId"), src["key"])
        # the decorated table is checkpointed and the statistics read the
        # checkpoint, as the reference does with its CSV (cells 55-59)
        t.op("chartevents", lambda: writers.write_parquet(
            events, f"{o}/chartevents", partition_by=[PARTITION]))
        decorated = spark.read.parquet(f"{o}/chartevents")
        t.op("stay_variable_stats", lambda: writers.write_parquet(
            profile.group_time_stats(decorated, ["encounterId", "Variable"], "chartTime"),
            f"{o}/stay_variable_stats"))
        t.op("windowed_stats", lambda: writers.write_parquet(
            chartevents.windowed_variable_stats(decorated, watermark=None), f"{o}/windowed_stats"))

    def warm(self, spark) -> None:
        """First touch of every input: file listing (Parquet footers are
        read when the frame is built)."""
        for df in self._read(spark).values():
            df.inputFiles()

    def check(self, spark, results: list[dict]) -> list[str]:
        """One entry per op whose output is wrong. Tables are checked as
        last written and charged to every iteration that wrote them."""
        from pyspark.sql import functions as F

        from icnarc_to_philips_linkage_spark.operators import clean, dedup
        from icnarc_to_philips_linkage_spark.pipelines import run_linkage_pipeline

        e, o, read = self.expect.counts, self.outputs, spark.read.parquet

        def ingest() -> bool:
            wide = read(f"{o}/icnarc_wide")
            w = wide.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("`Unit ID`") == 14, 1)).alias("cardiac"),
                F.count(F.when(F.col("`Datetime body removed from your unit`").isNotNull(), 1)).alias("dead"),
                F.count(F.when(F.col("icnarc_outTime").isNull(), 1)).alias("no_out"),
            ).first()
            cols = set(wide.columns)
            return ((w.n, w.cardiac, w.dead, w.no_out) == (e["patients"], e["cardiac"], e["dead"], 0)
                    and "CMP filler 0" in cols and not any(c.startswith("Unused CMP item") for c in cols))

        def icustays() -> bool:
            # one row per CIS Patient ID Original; LOS conserved across A1 and A2
            src = self._read(spark)
            p_clean = clean.clean_philips_encounterids(src["philips"], src["issues"])
            merged = dedup.combine_non_unique_philips_encounters(p_clean, mode="first")
            linked = run_linkage_pipeline(
                src["icnarc"], src["philips"], src["ww"], src["issues"], dedup_mode="first")["linked"]
            los = "`lengthOfStay (mins)`"
            s = read(f"{o}/icustays").agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("`CIS Patient ID Original`").alias("keys"),
                F.sum(los).alias("los")).first()
            los_clean, los_merged, los_linked = (df.agg(F.sum(los)).first()[0] for df in (p_clean, merged, linked))
            return (s.n == s.keys == e["icustays"] and los_clean == los_merged == e["los_total"]
                    and s.los == los_linked)

        def chartevents() -> bool:
            ce = read(f"{o}/chartevents")
            c = ce.agg(F.count(F.lit(1)).alias("n"),
                       F.count(F.when(F.col("Variable").isNull(), 1)).alias("miss")).first()
            ids = {r[0] for r in ce.select("encounterId").distinct().collect()}
            return (c.n, c.miss) == (e["in_cohort"], e["dim_miss"]) and ids <= self.expect.keys["cohort"]

        def n_sum(table: str, want: int) -> Callable[[], bool]:
            return lambda: read(f"{o}/{table}").agg(F.sum("n")).first()[0] == want

        def validation(rows) -> bool:
            v = rows[0]
            return (v.icnarc_rows, v.philips_rows, v.linked_rows, v.icnarc_null_keys) == (
                e["icnarc_clean"], e["philips_merged"], e["linked"], e["icnarc_null_keys"])

        def n_stays(rows) -> bool:
            return rows[0].n_stays == e["icustays"]

        tables = {
            "ingest": ingest, "icustays": icustays, "chartevents": chartevents,
            "stay_variable_stats": n_sum("stay_variable_stats", e["in_cohort"]),
            "windowed_stats": n_sum("windowed_stats", e["numeric"]),
        }
        reports = {"validation": validation, "philips_summary": n_stays, "icnarc_summary": n_stays}
        bad = []
        for name, ok in tables.items():
            if not _passes(ok):
                bad.extend(name for r in results if name in r)
        for r in results:
            bad.extend(name for name, ok in reports.items() if name in r and not _passes(ok, r[name]))
        return bad

    def traced_iteration(self, spark, tr: Tracer) -> dict[str, float]:
        """Every layer call's output forced in its own span; returns the
        row counts the per-layer ratios need (counted outside spans)."""
        from icnarc_to_philips_linkage_spark import pipelines
        from icnarc_to_philips_linkage_spark.operators import clean, link, profile, reports
        from icnarc_to_philips_linkage_spark.sources import writers
        from icnarc_to_philips_linkage_spark.sources.xml import parse_icnarc_xml
        from icnarc_to_philips_linkage_spark.streaming import chartevents

        o = os.path.join(self.outputs, "traced")
        src = self._read(spark)
        for k, df in src.items():
            with tr.span(f"sources.readers.{k}"):
                _noop(df)
        R = "sources.readers."
        with tr.span("sources.xml.parse", (R + "cmp",)):
            parsed = parse_icnarc_xml(spark, f"{self.inputs}/xml", src["cmp"])
            _noop(parsed)
        with tr.span("operators.derive.ep2", ("sources.xml.parse",)):
            ingested = pipelines.run_icnarc_ingest(spark, f"{self.inputs}/xml", src["cmp"])
            _noop(ingested)
        with tr.span("sources.writers.icnarc_wide", ("operators.derive.ep2",)):
            writers.write_parquet(ingested, f"{o}/icnarc_wide")
        ep1 = pipelines.run_linkage_pipeline(
            src["icnarc"], src["philips"], src["ww"], src["issues"], dedup_mode="first")
        p_clean = clean.clean_philips_encounterids(src["philips"], src["issues"])
        steps = [
            ("operators.clean.icnarc", ep1["icnarc_clean"], (R + "icnarc", R + "ww")),
            ("operators.clean.philips", p_clean, (R + "philips", R + "issues")),
            ("operators.dedup.a1", ep1["philips_merged"], ("operators.clean.philips",)),
            ("operators.link.j2", ep1["linked"], ("operators.clean.icnarc", "operators.dedup.a1")),
            ("operators.dedup.a2", ep1["icustays"], ("operators.link.j2",)),
        ]
        for name, df, up in steps:
            with tr.span(name, up):
                _noop(df)
        with tr.span("sources.writers.icustays", ("operators.dedup.a2",)):
            writers.write_parquet(ep1["icustays"], f"{o}/icustays")
        stays = spark.read.parquet(f"{o}/icustays")
        wide = spark.read.parquet(f"{o}/icnarc_wide")
        with tr.span(R + "icustays"):
            _noop(stays)
        with tr.span(R + "icnarc_wide"):
            _noop(wide)
        with tr.span("operators.reports.validation",
                     ("operators.clean.icnarc", "operators.dedup.a1", "operators.link.j2")):
            ep1["validation"].collect()
        with tr.span("operators.reports.philips_summary", (R + "icustays",)):
            reports.philips_summary(stays).collect()
        j3 = link.link_wide_cmp(stays, wide)
        with tr.span("operators.link.j3", (R + "icustays", R + "icnarc_wide")):
            _noop(j3)
        with tr.span("operators.reports.icnarc_summary", ("operators.link.j3",)):
            reports.icnarc_summary(j3).collect()
        events = pipelines.run_chartevents_pipeline(
            src["assessments"], src["labs"], stays.select("encounterId"), src["key"])
        with tr.span("operators.link.ep3", (R + "assessments", R + "labs", R + "icustays", R + "key")):
            _noop(events)
        with tr.span("sources.writers.chartevents", ("operators.link.ep3",)):
            writers.write_parquet(events, f"{o}/chartevents", partition_by=[PARTITION])
        decorated = spark.read.parquet(f"{o}/chartevents")
        with tr.span(R + "chartevents"):
            _noop(decorated)
        stats = profile.group_time_stats(decorated, ["encounterId", "Variable"], "chartTime")
        with tr.span("operators.profile.group_time_stats", (R + "chartevents",)):
            _noop(stats)
        with tr.span("sources.writers.stay_variable_stats", ("operators.profile.group_time_stats",)):
            writers.write_parquet(stats, f"{o}/stay_variable_stats")
        windowed = chartevents.windowed_variable_stats(decorated, watermark=None)
        with tr.span("streaming.chartevents.windowed", (R + "chartevents",)):
            _noop(windowed)
        with tr.span("sources.writers.windowed_stats", ("streaming.chartevents.windowed",)):
            writers.write_parquet(windowed, f"{o}/windowed_stats")

        # counts for ratios, outside every span
        written, files = _dir_bytes(o)
        read_bytes, _ = _dir_bytes(self.inputs)
        n = {
            "xml_records": parsed.count(),
            "icnarc_clean": ep1["icnarc_clean"].count(),
            "philips_clean": p_clean.count(),
            "philips_merged": ep1["philips_merged"].count(),
            "linked": ep1["linked"].count(),
            "icustays": stays.count(),
            "events_read": src["assessments"].count() + src["labs"].count(),
            "events_kept": events.count(),
            "written_bytes": written,
            "written_files": files,
            "input_bytes": read_bytes,
        }
        shutil.rmtree(o, ignore_errors=True)
        return n


# --------------------------------------------------------------- query_mix

# Oracle-backed registry queries over the clinical-operator analogues
# (joins J1-J6, merges, completeness, stats, typed values, pivots, unions,
# first/last) and the fuzzy/dedup/time-series/report/check/reconcile/SCD2
# families. Kept short enough that a warm sweep fits the run length on
# four cores.
QUERIES = (
    "j2_core_linkage", "j5_decorate_dim_misses", "a1_dedup_merge", "a6_group_time_stats",
    "e10_typed_value", "s2_pivot_wide", "dedup_debounce", "ts_session_window",
    "check_referential_integrity", "scd2_changelog",
)
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
        # Arrow results carry the session's UTC zone; the oracle's are naive
        return v.astimezone(timezone.utc).replace(tzinfo=None) if v.tzinfo else v
    if getattr(v, "ndim", 0) or isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v.item() if hasattr(v, "item") else v


def result_hash(pdf) -> int:
    """Order-insensitive value hash of a result frame (columns sorted by
    name, rows sorted by their string form)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)),
        key=str,
    )
    return hash((tuple(cols), tuple(rows)))


class QueryMix:
    name = "query_mix"

    def __init__(self, work: str, scale: float = 0.5):
        self.inputs = os.path.join(work, "in")
        self.scale = scale
        self.expect: gen.Expect | None = None

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.expect = gen.registry_tables(np.random.default_rng(seed), self.inputs, self.scale)

    @property
    def input_rows(self) -> int:
        # a sweep is credited with the rows of every generated table; the
        # queries read customer, orders, lineitem, part and events, ~99% of them
        return self.expect.rows

    def _fns(self):
        from icnarc_to_philips_linkage_spark.plans.registry import all_queries

        reg = all_queries()
        return [(q, reg[q][0], reg[q][1]) for q in QUERIES]

    def warm(self, spark) -> None:
        """First touch of every table: file listing and footers."""
        from icnarc_to_philips_linkage_spark.plans.tables import load

        for tname in ORACLE_TABLES:
            load(spark, self.inputs, tname).inputFiles()

    def iteration(self, spark, t: Timer) -> None:
        for q, fn, _ in self._fns():
            t.op(q, lambda fn=fn: fn(spark, self.inputs).toArrow())

    def check(self, spark, results: list[dict]) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for tname in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM '{self.inputs}/{tname}.parquet'")
        want = {q: result_hash(con.execute(sql).df()) for q, _, sql in self._fns()}
        con.close()
        return [q for r in results for q in QUERIES
                if q in r and not _passes(lambda t, q=q: result_hash(t.to_pandas()) == want[q], r[q])]

    def traced_iteration(self, spark, tr: Tracer) -> dict[str, float]:
        for q, fn, _ in self._fns():
            with tr.span(f"plans.build.{q}"):
                df = fn(spark, self.inputs)
            with tr.span(f"plans.plan.{q}"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"plans.exec.{q}"):
                df.toArrow()
        return {"queries": len(QUERIES)}


WORKLOADS = {"curation": Curation, "query_mix": QueryMix}
