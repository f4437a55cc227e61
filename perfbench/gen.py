"""Seeded synthetic inputs for the benchmark workloads.

Every generator takes a numpy ``Generator`` built from the run's seed and
writes files only; the engine under test receives nothing but those files.
Schemas and data quirks follow FIXTURES.md (clinical sources) and
TESTDATA.md (the TPC-H-shaped registry tables).

Each generator also returns the facts the output checks need (row counts
and key sets known by construction), computed here with numpy/pandas and
never with the engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EPOCH_2015 = np.datetime64("2015-01-01T00:00", "m")
FOUR_YEARS_MIN = 4 * 365 * 24 * 60

# FIXTURES §1/§3: ICNARC unit codes
UNIT_CODES = {1: "H91", 14: "B16"}

# FIXTURES §4: the CMP columns the pipeline reads, as (CODE, Description).
CMP_USED = [
    ("R1", "ICNARC Number"),
    ("R2", "ICNARC CMP Number"),
    ("D1", "Sex"),
    ("D2", "Date of Birth"),
    ("D3", "Height in cm"),
    ("D4", "Weight in kg"),
    ("A1", "Date of admission to your unit"),
    ("A2", "Time of admission to your unit"),
    ("A3", "Date of discharge from your unit"),
    ("A4", "Time of discharge from your unit"),
    ("A5", "Date when fully ready to discharge"),
    ("A6", "Time when fully ready to discharge"),
    ("A7", "Date of death"),
    ("A8", "Time of death"),
    ("A9", "Date of declaration of brainstem death"),
    ("A10", "Time of declaration of brainstem death"),
    ("A11", "Date body removed from your unit"),
    ("A12", "Time body removed from your unit"),
    ("S1", "Status at discharge from your unit"),
    ("S2", "Status at discharge from your hospital"),
    ("S3", "Status at ultimate discharge from hospital"),
    ("C1", "Primary reason for admission to your unit"),
    ("C2", "Secondary reason for admission to your unit"),
    ("C3", "Admission Type"),
    ("C4", "Reason for discharge from your unit"),
]
N_FILLER = 30
CMP_FILLER = [(f"F{i}", f"CMP filler {i}") for i in range(N_FILLER)]
# CODEs in the dimension that no record carries (the pruned path)
CMP_ABSENT = [(f"X{i}", f"Unused CMP item {i}") for i in range(5)]
CMP_NAMESPACE = "http://www.icnarc.org/cmp"

REASON_CODES = [
    "1.1.4.39.1", "2.1.2.27.1", "2.2.1.10.2", "1.2.3.11.4", "2.7.1.12.1",
    "1.4.2.30.3", "2.4.1.21.1", "1.1.1.1.1", "2.1.4.27.1", "1.6.1.5.2",
    "2.2.13.31.4", "1.3.1.12.1", "2.6.3.6.1", "1.2.6.13.4",
]

# FIXTURES §5: attributeIds whose value lives in valueString
STRING_VALUED_IDS = (16240, 6847, 6849, 6851, 8590, 34870, 34873, 8584, 3566, 25545)
F5_EXCLUDED = (
    "Airway", "GCS Motor", "GCS Verbal", "GCS Eyes",
    "Pain Scale (VAS) (on movement)", "Pain Scale (VAS)",
    "Access (Arterial) Pressure",
)
OTHER_VARIABLES = (
    "Heart Rate", "SpO2", "GCS", "FiO2", "Arterial BP Mean",
    "Arterial BP Systolic", "Arterial BP Diastolic", "Respiratory Rate",
    "Temperature", "CVP", "Urine Output", "Serum sodium", "Serum potassium",
    "Creatinine", "Urea", "Haemoglobin", "Lactate", "pH", "PaO2", "PaCO2",
)
LAB_VARIABLES = frozenset(OTHER_VARIABLES[11:])
RPT_FOOTER = "\n\n(12345 rows affected)\n\nCompletion time: 2019-01-01T00:00:00\n"


@dataclass
class Expect:
    """Facts about generated inputs, known by construction."""

    counts: dict[str, int] = field(default_factory=dict)
    keys: dict[str, set] = field(default_factory=dict)
    rows: int = 0  # input rows one iteration consumes


def _minutes_to_ts(m: np.ndarray) -> np.ndarray:
    return EPOCH_2015 + m.astype("timedelta64[m]")


def _null_where(values: np.ndarray, mask: np.ndarray) -> list:
    out = values.astype(object)
    out[mask] = None
    return out


def _write_tsv_report(df: pd.DataFrame, path: str) -> None:
    """A tab-separated ``.rpt`` export with its non-data footer (S5)."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("s")) if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ]
        )
    )
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(delimiter="\t", quoting_style="none")
    )
    with open(path, "a") as f:
        f.write(RPT_FOOTER)


def _write_csv(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pacsv.write_csv(table, path)


# ---------------------------------------------------------------- stays


def stays_inputs(rng: np.random.Generator, out: str, n_stays: int):
    """FIXTURES §1-§3: ICNARC link keys, the Philips encounter extract
    and both issue sheets. Returns the expectations, the audit records'
    (ICNARC number, Unit ID, admission minute) for the XML export, and
    the Philips stay ids the chartevents extracts refer to.

    Philips stays arrive as ~1.5 fragments each; ~90% of stays are linked
    by one or two ICNARC audit records. Quirks: Unit-14 rows, null and
    wrong link keys, WW corrections that hit and miss, encounterId
    corrections that hit and miss (and rows the unit filter drops), dead
    patients with body-removed times, unparseable heights, null genders.
    """
    os.makedirs(out, exist_ok=True)
    S = n_stays
    enc = 10_000_000 + np.arange(S, dtype=np.int64)
    start = rng.integers(0, FOUR_YEARS_MIN, S)

    # ---- Philips fragments (FIXTURES §2)
    nfrag = rng.choice([1, 2, 3], size=S, p=[0.6, 0.3, 0.1])
    stay_of = np.repeat(np.arange(S), nfrag)
    frag_no = np.concatenate([np.arange(k) for k in nfrag])
    dur = rng.integers(120, 4 * 24 * 60, stay_of.size)
    # fragments of one stay are adjacent windows
    cum = np.cumsum(dur)
    first_idx = np.repeat(np.cumsum(nfrag) - nfrag, nfrag)
    offs = cum - dur - (cum[first_idx] - dur[first_idx])
    in_min = start[stay_of] + offs
    out_min = in_min + dur
    raw_enc = enc[stay_of].copy()
    # a few second fragments carry their own raw id, corrected by the
    # issue list (J1 hit)
    second = np.flatnonzero(frag_no == 1)
    split = rng.choice(second, size=min(15, second.size), replace=False)
    raw_enc[split] = 20_000_000 + np.arange(split.size)
    n_rows = stay_of.size
    age = rng.integers(18, 96, S)[stay_of] + (frag_no > 0) * rng.integers(0, 2, n_rows)
    gender = np.where(rng.random(S) < 0.5, "Male", "Female")[stay_of]
    philips = pd.DataFrame(
        {
            "encounterId": raw_enc,
            "ptCensusId": rng.integers(1, 10**9, n_rows),
            "age": pd.array(_null_where(age, rng.random(n_rows) < 0.02), dtype="Int64"),
            "inTime": _minutes_to_ts(in_min),
            "outTime": _minutes_to_ts(out_min),
            "tNumber": np.char.add("T", (1_000_000 + stay_of).astype(str)),
            "lengthOfStay (mins)": dur.astype(np.float64),
            "gender": _null_where(gender, rng.random(n_rows) < 0.05),
        }
    )
    _write_tsv_report(philips, f"{out}/encounter_summary.rpt")

    # ---- encounterId issue sheet (FIXTURES §3, ≤50 rows)
    existing = rng.choice(enc, size=15, replace=False)
    issues = pd.DataFrame(
        {
            "encounterId_CIS": np.concatenate(
                [
                    raw_enc[split],  # corrections that hit
                    30_000_000 + np.arange(5),  # ids not in the extract
                    existing[:5],  # clinicalUnitId 8.0: filtered out
                    existing[5:10],  # adjusted null: keep original
                ]
            ),
            "encounterId_Adjusted": pd.array(
                list(enc[stay_of[split]])
                + list(40_000_000 + np.arange(5))
                + list(50_000_000 + np.arange(5))
                + [None] * 5,
                dtype="Int64",
            ),
            "clinicalUnitId": [1.0] * (split.size + 5) + [8.0] * 5 + [1.0] * 5,
            "Explanation": (
                ["split stay"] * (split.size // 2)
                + [None] * (split.size - split.size // 2)
                + ["unknown id"] * 5
                + ["other unit"] * 5
                + [None] * 5
            ),
        }
    )
    _write_csv(issues, f"{out}/encounter_issues.csv")

    # ---- ICNARC audit records (FIXTURES §1)
    linked = np.flatnonzero(rng.random(S) < 0.9)
    n_ep = rng.choice([1, 2], size=linked.size, p=[0.9, 0.1])
    ep_stay = np.repeat(linked, n_ep)
    ep_no = np.concatenate([np.arange(1, k + 1) for k in n_ep])
    philips_only = np.setdiff1d(np.arange(S), linked)
    n_link = ep_stay.size
    n_null = max(1, n_link // 50)
    n_wrong = max(40, n_link // 100)
    n_card = n_link // 9
    n_icn = n_link + n_null + n_wrong + n_card
    icn_no = 100_000 + rng.permutation(n_icn).astype(np.int64) * 7
    unit = np.ones(n_icn, dtype=np.int64)
    unit[n_link + n_null + n_wrong:] = 14
    key = np.empty(n_icn, dtype=object)
    key[:n_link] = enc[ep_stay]
    key[n_link:n_link + n_null] = None
    wrong_ids = 60_000_000 + np.arange(n_wrong, dtype=np.int64)
    key[n_link + n_null:n_link + n_null + n_wrong] = wrong_ids
    # cardiac rows point at Philips-only stays: they would link if the
    # unit filter did not drop them
    card_target = philips_only if philips_only.size else np.arange(S)
    key[n_link + n_null + n_wrong:] = enc[rng.choice(card_target, n_card)]
    episode = np.ones(n_icn, dtype=np.int64)
    episode[:n_link] = ep_no
    readm = np.where(episode > 1, "Yes", "No").astype(object)
    readm[rng.random(n_icn) < 0.03] = None
    icnarc = pd.DataFrame(
        {
            "ICNARC number": icn_no,
            "Unit ID": unit,
            "CIS Patient ID": pd.array(key, dtype="Int64"),
            "CIS Episode ID": episode,
            "Readmission during this hospital stay": readm,
            "Key": rng.integers(1, 10**9, n_icn),
        }
    )
    _write_csv(icnarc, f"{out}/icnarc_cis_ids.csv")

    # ---- WW sheet (FIXTURES §3, ≤50 rows): 30 wrong keys corrected to
    # Philips-only stays, 10 misses, 5 cardiac rows the unit filter drops
    wrong_rows = np.arange(n_link + n_null, n_link + n_null + n_wrong)
    fix_rows = wrong_rows[:30]
    fix_to = enc[rng.choice(card_target, fix_rows.size, replace=card_target.size < fix_rows.size)]
    ww = pd.DataFrame(
        {
            "ICNARC Number": np.concatenate(
                [icn_no[fix_rows], 900_000_000 + np.arange(10), icn_no[wrong_rows[30:35]]]
            ),
            "Unit ID": [1] * (fix_rows.size + 10) + [14] * 5,
            "Corrected encID": np.concatenate(
                [fix_to, 70_000_000 + np.arange(10), enc[:5]]
            ),
        }
    )
    _write_csv(ww, f"{out}/ww_errors.csv")

    admit = rng.integers(0, FOUR_YEARS_MIN, n_icn)
    admit[:n_link] = start[ep_stay]

    # ---- expected outputs, from the link-key semantics, without the engine
    e = Expect()
    keep = unit != 14
    corr = dict(zip(fix_rows, fix_to))
    orig = key[keep]
    cleaned = np.array(
        [corr.get(i, k) for i, k in zip(np.flatnonzero(keep), orig)], dtype=object
    )
    enc_set = set(enc.tolist())
    hit = np.array([k is not None and int(k) in enc_set for k in cleaned])
    e.counts["icnarc_clean"] = int(keep.sum())
    e.counts["philips_merged"] = S
    e.counts["linked"] = int(hit.sum())
    e.counts["icustays"] = len({int(k) for k in orig[hit]})
    e.counts["icnarc_null_keys"] = int(sum(k is None for k in cleaned))
    e.counts["los_total"] = int(dur.sum())
    e.keys["cohort"] = {int(k) for k in cleaned[hit]}
    e.rows = int(n_rows + n_icn + len(issues) + len(ww))
    return e, (icn_no, unit, admit), enc


def cmp_frame(
    rng: np.random.Generator,
    icn_no: np.ndarray,
    unit: np.ndarray,
    admit_min: np.ndarray,
) -> pd.DataFrame:
    """One wide CMP record per audit record, string-typed and keyed by
    Description (FIXTURES §4): dead patients have no discharge time but a
    body-removed time, some statuses are all null, some heights do not
    parse."""
    n = icn_no.size
    los = rng.integers(6 * 60, 20 * 24 * 60, n)
    disc = admit_min + los
    dead = rng.random(n) < 0.15

    def date_time(m: np.ndarray, null: np.ndarray):
        ts = pd.to_datetime(_minutes_to_ts(m))
        return (
            _null_where(ts.strftime("%Y-%m-%d").to_numpy(), null),
            _null_where(ts.strftime("%H:%M").to_numpy(), null),
        )

    cols: dict[str, object] = {}
    cols["ICNARC Number"] = icn_no.astype(str)
    cols["ICNARC CMP Number"] = np.where(unit == 14, UNIT_CODES[14], UNIT_CODES[1])
    cols["Sex"] = _null_where(np.where(rng.random(n) < 0.5, "F", "M"), rng.random(n) < 0.03)
    dob = admit_min - rng.integers(18 * 525_960, 95 * 525_960, n)
    cols["Date of Birth"] = pd.to_datetime(_minutes_to_ts(dob)).strftime("%Y-%m-%d").to_numpy()
    height = rng.integers(145, 200, n).astype(str).astype(object)
    height[rng.random(n) < 0.03] = "not recorded"
    height[rng.random(n) < 0.03] = None
    cols["Height in cm"] = height
    cols["Weight in kg"] = _null_where(rng.integers(40, 150, n).astype(str), rng.random(n) < 0.03)
    none = np.zeros(n, dtype=bool)
    cols["Date of admission to your unit"], cols["Time of admission to your unit"] = date_time(admit_min, none)
    cols["Date of discharge from your unit"], cols["Time of discharge from your unit"] = date_time(disc, dead)
    ready_null = dead | (rng.random(n) < 0.3)
    cols["Date when fully ready to discharge"], cols["Time when fully ready to discharge"] = date_time(disc - 60, ready_null)
    cols["Date of death"], cols["Time of death"] = date_time(disc - 30, ~dead)
    brainstem = dead & (rng.random(n) < 0.1)
    cols["Date of declaration of brainstem death"], cols["Time of declaration of brainstem death"] = date_time(disc - 45, ~brainstem)
    cols["Date body removed from your unit"], cols["Time body removed from your unit"] = date_time(disc, ~dead)
    status = np.where(dead, "D", "A")
    all_null = rng.random(n) < 0.02
    cols["Status at discharge from your unit"] = _null_where(status, all_null)
    cols["Status at discharge from your hospital"] = _null_where(status, all_null | (rng.random(n) < 0.2))
    cols["Status at ultimate discharge from hospital"] = _null_where(status, all_null | (rng.random(n) < 0.4))
    codes = np.array(REASON_CODES)
    cols["Primary reason for admission to your unit"] = codes[rng.integers(0, codes.size, n)]
    cols["Secondary reason for admission to your unit"] = _null_where(
        codes[rng.integers(0, codes.size, n)], rng.random(n) < 0.4
    )
    cols["Admission Type"] = np.array(list("LUPSMR"))[rng.integers(0, 6, n)]
    cols["Reason for discharge from your unit"] = _null_where(
        np.array(list("NCMRPS"))[rng.integers(0, 6, n)], dead
    )
    for _, desc in CMP_FILLER:
        cols[desc] = _null_where(rng.integers(0, 1000, n).astype(str), rng.random(n) < 0.8)
    return pd.DataFrame(cols)


def cmp_dimension() -> pd.DataFrame:
    """CODE → Description (the CMP_Dataset sheet), with absent CODEs."""
    pairs = CMP_USED + CMP_FILLER + CMP_ABSENT
    return pd.DataFrame({"CODE": [c for c, _ in pairs], "Description": [d for _, d in pairs]})


# ------------------------------------------------------------------ XML


def xml_inputs(rng: np.random.Generator, out: str, records, n_files: int) -> Expect:
    """ICNARC CMP XML exports (FIXTURES §4) of the given audit records:
    namespaced CMP-code child tags, one ``<patient>`` per record, null
    items omitted, split across ``n_files`` files; plus the CMP dimension
    with absent CODEs."""
    os.makedirs(f"{out}/xml", exist_ok=True)
    icn_no, unit, admit = records
    n_patients = icn_no.size
    wide = cmp_frame(rng, icn_no, unit, admit)
    code_of = {d: c for c, d in CMP_USED + CMP_FILLER}
    codes = [code_of[c] for c in wide.columns]
    values = wide.to_numpy(dtype=object)
    bounds = np.linspace(0, n_patients, n_files + 1).astype(int)
    for f in range(n_files):
        parts = [f'<?xml version="1.0"?>\n<cmp:export xmlns:cmp="{CMP_NAMESPACE}">\n']
        for row in values[bounds[f]:bounds[f + 1]]:
            parts.append("<cmp:patient>")
            parts.extend(
                f"<cmp:{c}>{v}</cmp:{c}>" for c, v in zip(codes, row) if v is not None
            )
            parts.append("</cmp:patient>\n")
        parts.append("</cmp:export>\n")
        with open(f"{out}/xml/export_{f:02d}.xml", "w") as fh:
            fh.write("".join(parts))
    _write_csv(cmp_dimension(), f"{out}/cmp_properties.csv")
    e = Expect()
    e.counts["patients"] = n_patients
    e.counts["cardiac"] = int((unit == 14).sum())
    e.counts["dead"] = int(wide["Date body removed from your unit"].notna().sum())
    e.rows = n_patients
    return e


# ----------------------------------------------------------- chartevents


def interventions_key(rng: np.random.Generator) -> pd.DataFrame:
    """96 (interventionId, attributeId) rows over 27 variables (FIXTURES
    §6): many-to-one, attributeId 16240 reused across interventions, the
    F5 exclusion list present."""
    variables = list(F5_EXCLUDED) + list(OTHER_VARIABLES)
    rows = []
    iid = 3000
    for i in range(96):
        var = variables[i % len(variables)]
        iid += 1
        if var in F5_EXCLUDED or i % 11 == 0:
            attr = STRING_VALUED_IDS[i % len(STRING_VALUED_IDS)]
        else:
            attr = 600 + i
        lab = var in LAB_VARIABLES
        rows.append(
            {
                "Variable": var,
                "Intervention name (longLabel)": f"{var} ({iid})",
                "interventionId": iid,
                "Attribute name (shortLabel)": "Value" if attr == 16240 else f"attr{attr}",
                "attributeId": attr,
                "Back end location (ICCA table)": "PtLabResult" if lab else "PtAssessment",
                "Frontend Source": (["Lab", "Free Form Lab", "Arterial Blood Gas"][i % 3] if lab else None),
            }
        )
    return pd.DataFrame(rows)


def chartevents_inputs(
    rng: np.random.Generator, out: str, n_events: int, stays: np.ndarray, cohort: set
) -> Expect:
    """FIXTURES §5/§6: two EAV extracts (hourly flowsheet, daily labs) as
    Parquet over the Philips ``stays``, and the interventions key. The
    cohort is the linked stays, so events of unlinked stays and of ids
    absent from the extract are out of cohort. Other quirks: stays
    without events, dim misses, string-valued attributeIds with
    numeric-looking and non-numeric strings, late-arriving storeTimes."""
    os.makedirs(out, exist_ok=True)
    key = interventions_key(rng)
    _write_csv(key, f"{out}/interventions_key.csv")
    active = stays[rng.random(stays.size) < 0.95]  # the rest record no events
    cohort_arr = np.fromiter(cohort, dtype=np.int64)
    stay_start = rng.integers(0, FOUR_YEARS_MIN, active.size) // 60 * 60

    is_lab = key["Back end location (ICCA table)"].to_numpy() == "PtLabResult"
    pair_i = key["interventionId"].to_numpy()
    pair_a = key["attributeId"].to_numpy()
    n_lab = n_events // 10
    total = {"assessments": n_events - n_lab, "labs": n_lab}
    counts = {"in_cohort": 0, "dim_miss": 0, "numeric": 0}
    for name, n in total.items():
        pool = np.flatnonzero(is_lab if name == "labs" else ~is_lab)
        step = 24 * 60 if name == "labs" else 60
        pick = pool[rng.integers(0, pool.size, n)]
        iid = pair_i[pick].copy()
        aid = pair_a[pick].copy()
        miss = rng.random(n) < 0.03
        iid[miss] = 90_000 + rng.integers(0, 50, int(miss.sum()))
        stay = rng.integers(0, active.size, n)
        enc = active[stay].copy()
        unknown = rng.random(n) < 0.03
        enc[unknown] = 80_000_000 + rng.integers(0, 5000, int(unknown.sum()))
        out_cohort = ~np.isin(enc, cohort_arr)
        chart = stay_start[stay] + rng.integers(0, 14 * 24 * 60 // step, n) * step
        lag = rng.integers(0, 120, n)
        late = rng.random(n) < 0.01
        lag[late] += rng.integers(3 * 60, 24 * 60, int(late.sum()))
        stringy = np.isin(aid, STRING_VALUED_IDS)
        num = np.round(rng.normal(80, 20, n), 2)
        sval = np.where(
            rng.random(n) < 0.5,
            np.char.mod("%.1f", np.round(rng.normal(5, 2, n), 1)),
            np.array(["Intubated", "Alert", "Unresponsive", "Self-ventilating"])[rng.integers(0, 4, n)],
        )
        table = pa.table(
            {
                "encounterId": pa.array(enc, pa.int64()),
                "chartTime": pa.array(_minutes_to_ts(chart).astype("datetime64[us]"), pa.timestamp("us")),
                "storeTime": pa.array(_minutes_to_ts(chart + lag).astype("datetime64[us]"), pa.timestamp("us")),
                "interventionId": pa.array(iid, pa.int64()),
                "attributeId": pa.array(aid, pa.int64()),
                "valueNumber": pa.array(np.where(stringy, np.nan, num), pa.float64(), from_pandas=True),
                "valueString": pa.array(np.where(stringy, sval, None)),
            }
        )
        os.makedirs(f"{out}/{name}", exist_ok=True)
        for part, chunk in enumerate(np.array_split(np.arange(n), 4)):
            pq.write_table(table.take(chunk), f"{out}/{name}/part-{part}.parquet")
        counts["in_cohort"] += int((~out_cohort).sum())
        counts["dim_miss"] += int((~out_cohort & miss).sum())
        counts["numeric"] += int((~out_cohort & ~stringy).sum())
    e = Expect(counts=counts)
    e.rows = n_events + len(key)
    return e


def curation_inputs(
    rng: np.random.Generator, out: str, n_stays: int, n_xml_files: int, n_events: int
) -> Expect:
    """Every input of the curation job: link keys and encounter extract
    (``stays_inputs``), the CMP XML export of the same audit records and
    the EAV extracts of the same stays."""
    stays, records, enc = stays_inputs(rng, out, n_stays)
    xml = xml_inputs(rng, out, records, n_xml_files)
    events = chartevents_inputs(rng, out, n_events, enc, stays.keys["cohort"])
    e = Expect(keys=stays.keys)
    for part in (stays, xml, events):
        e.counts.update(part.counts)
        e.rows += part.rows
    return e


# ------------------------------------------------------------- registry


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def registry_tables(rng: np.random.Generator, out: str, scale: float) -> Expect:
    """The TPC-H-shaped tables of TESTDATA.md with the same schemas and
    value domains, at ``scale`` (1.0 ≈ the sf0.01 row counts)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_ord, n_line = int(1500 * scale), int(15000 * scale), int(60000 * scale)
    n_part, n_supp, n_ev, n_doc = int(2000 * scale), max(25, int(100 * scale)), int(10000 * scale), int(500 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)],
    })
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(list("OFP"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenumber = np.minimum(np.arange(n_line) - grp_start + 1, 7)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(list("OF"))[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array((day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")).astype("datetime64[us]"), pa.timestamp("us")),
    })
    adj = np.array(["small", "red", "hot", "old", "large", "blue", "cold", "new"])
    noun = np.array(["ring", "plate", "widget", "rod", "bolt", "gear", "pipe", "valve"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, vocab.size, rng.integers(10, 100))]) for _ in range(n_doc)]
    for i in rng.choice(n_doc, size=max(1, n_doc // 20), replace=False):
        texts[i] = texts[(i + 1) % n_doc] + " dup"  # near-duplicates
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.normal(size=(n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")
    e = Expect()
    e.rows = sum(t.num_rows for t in tables.values())
    return e
