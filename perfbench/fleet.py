"""Seeded OpenMRS-shaped facility fleet with planted truth.

One directory per facility schema (``openmrs_NNN``) holding one
``<table>.parquet`` per table, plus one non-``openmrs_`` schema the prefix
filter must drop and a consolidated destination warehouse whose tables
carry ``site_id``. Files are written with pyarrow, so generation starts
no Spark job.

Every semantic edge of the reference's two scripts is planted, and the
expected report rows are derived from the generator's own bookkeeping:

- one facility's ``property_value`` is garbage: DC keeps the raw string,
  PP coerces it to site 0, and its name resolves through location 0;
- every voidable table has voided rows, and ``patient_state`` keeps its
  voided rows in the PP count;
- every event table has rows dated in 2099 that ``ts < now`` excludes;
- one facility has equal max dates across its three event tables
  (std_dev 0);
- one facility lacks ``orders`` and is skipped by both fan-outs;
- destination counts differ from, match, or are absent for each
  (site, table) pair, and a destination-only site 99 exists;
- facility 20 is real, so the hardcoded ``site_id = 20`` patient_state
  branch matches a source row while other sites' destination
  patient_state rows must stay hidden.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TABLES = {"obs": "obs_datetime", "encounter": "encounter_datetime", "orders": "start_date"}
PP_COUNTED = [
    ("obs", True),
    ("encounter", True),
    ("orders", True),
    ("person", True),
    ("patient", True),
    ("patient_state", False),
]
FUTURE = dt.datetime(2099, 1, 1, tzinfo=dt.timezone.utc)
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_SPAN_S = 540 * 86400  # event dates fall in 2024-01-01 .. 2025-06-24
DEST_ONLY_SITE = 99
#: rows of obs.value_numeric outside this range violate the in_range rule
VALUE_RANGE = (0.0, 500.0)
GENDERS = ["F", "M", "U"]


@dataclass
class Fleet:
    """Paths to the generated files and the truth derived while writing them."""

    sources: dict[str, str]  # schema name -> directory
    warehouse: dict[str, str]  # destination table -> parquet path
    missing: tuple[str, str]  # (source, table) absent from the fleet
    input_bytes: int
    consistency: dict  # facility_id -> row tuple
    reconciliation: dict  # (site_id, table) -> (site_name, src, dest, variance)
    attempted: int
    succeeded: int
    skipped: list
    # lake-wide truth for the dqa report (all schemas, all rows)
    volume: dict = field(default_factory=dict)  # table -> row count
    freshness: dict = field(default_factory=dict)  # table -> max date < now
    rules: dict = field(default_factory=dict)  # rule name -> n_violations
    profile: dict = field(default_factory=dict)  # column -> (n_nulls, n_distinct, min, max)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def generate(root: str, seed: int, n_sources: int, rows: int) -> Fleet:
    """Write the fleet under ``root`` and return it with its truth.

    ``n_sources`` ``openmrs_`` schemas get about ``rows`` rows in each
    event table (person/patient/patient_state get a quarter to a fifth).
    """
    rng = np.random.default_rng(seed)
    names = [f"openmrs_{i:03d}" for i in range(n_sources)] + ["archive_emr"]
    # distinct facility ids; one of them is 20 (PP:219)
    fids = [20] + [int(x) for x in rng.choice(np.arange(21, 21 + 4 * n_sources), n_sources, replace=False)]
    equal_dates, garbage, missing_src = 0, 1, 2  # indices into names

    sources: dict[str, str] = {}
    consistency: dict = {}
    src_counts: dict = {}  # (site_id, table) -> count for PP-visible sources
    site_names: dict = {}
    volume = {t: 0 for t, _ in PP_COUNTED}
    freshness: dict = {}
    nulls = out_of_range = orphans = 0
    person_cols: dict[str, list] = {"person_id": [], "voided": [], "gender": [], "birth_year": []}

    for i, name in enumerate(names):
        d = os.path.join(root, "fleet", name)
        sources[name] = d
        fid = fids[i]
        pv = "n/a" if i == garbage else str(fid)
        site_id = 0 if i == garbage else fid
        loc_id = site_id
        fac_name = f"Facility {fid}" if i != garbage else "Unconfigured Facility"
        _write(
            pa.table({
                "property": ["current_health_center_id", "default_locale", "visit_timeout"],
                "property_value": [pv, "en", "3600"],
            }),
            os.path.join(d, "global_property.parquet"),
        )
        _write(
            pa.table({
                "location_id": pa.array([loc_id, 10_000 + i, 20_000 + i], type=pa.int32()),
                "name": [fac_name, f"Ward A {i}", f"Ward B {i}"],
            }),
            os.path.join(d, "location.parquet"),
        )
        base = i * 10_000_000

        # person first: obs.person_id points into it (with planted orphans)
        n_person = int(rows * rng.uniform(0.2, 0.3))
        pid = base + np.arange(n_person, dtype=np.int64)
        pvoid = (rng.random(n_person) < 0.05).astype(np.int32)
        gender = rng.integers(0, len(GENDERS), n_person)
        byear = rng.integers(1930, 2024, n_person).astype(np.int32)
        _write(
            pa.table({
                "person_id": pid,
                "voided": pvoid,
                "gender": pa.array([GENDERS[g] for g in gender]),
                "birth_year": byear,
            }),
            os.path.join(d, "person.parquet"),
        )
        person_cols["person_id"].append(pid)
        person_cols["voided"].append(pvoid)
        person_cols["gender"].append(gender)
        person_cols["birth_year"].append(byear)

        per_table_counts = {"person": int((pvoid == 0).sum())}
        volume["person"] += n_person
        max_dates = {}
        shared_last = int(rng.integers(_SPAN_S - 30 * 86400, _SPAN_S))
        for t, ts_col in EVENT_TABLES.items():
            if i == missing_src and t == "orders":
                continue
            n = int(rows * rng.uniform(0.6, 1.4))
            secs = rng.integers(0, _SPAN_S - 40 * 86400, n)
            # the newest real row sets max_date; equal across tables for
            # the std_dev-0 facility, distinct elsewhere
            secs[0] = shared_last if i == equal_dates else int(rng.integers(_SPAN_S - 40 * 86400, _SPAN_S))
            fut = rng.choice(np.arange(1, n), int(rng.integers(1, 4)), replace=False)
            voided = (rng.random(n) < 0.04).astype(np.int32)
            real = np.ones(n, dtype=bool)
            real[fut] = False
            micros = (int(_EPOCH.timestamp()) + secs.astype(np.int64)) * 1_000_000
            micros[fut] = int(FUTURE.timestamp()) * 1_000_000
            ts = pa.array(micros, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))
            cols = {f"{t}_id" if t != "orders" else "order_id": base + np.arange(n, dtype=np.int64)}
            cols[ts_col] = ts
            cols["voided"] = voided
            if t == "obs":
                pidx = rng.integers(0, n_person, n)
                person_ref = pid[pidx].copy()
                orphan = rng.random(n) < 0.01
                person_ref[orphan] = base + 9_000_000 + np.arange(int(orphan.sum()))
                value = rng.uniform(VALUE_RANGE[0], VALUE_RANGE[1], n)
                bad = rng.random(n) < 0.02
                value[bad] = rng.uniform(600.0, 900.0, int(bad.sum()))
                isnull = rng.random(n) < 0.03
                cols["person_id"] = person_ref
                cols["value_numeric"] = pa.array(value, mask=isnull)
                nulls += int(isnull.sum())
                out_of_range += int((bad & ~isnull).sum())
                orphans += int(orphan.sum())
            _write(pa.table(cols), os.path.join(d, f"{t}.parquet"))
            volume[t] += n
            max_dt = (_EPOCH + dt.timedelta(seconds=int(secs[real].max()))).date()
            freshness[t] = max(freshness.get(t, max_dt), max_dt)
            max_dates[t] = max_dt
            per_table_counts[t] = int((voided == 0).sum())

        for t, frac, voidable in (("patient", 0.2, True), ("patient_state", 0.25, True)):
            n = int(rows * frac * rng.uniform(0.8, 1.2))
            voided = (rng.random(n) < 0.05).astype(np.int32)
            _write(
                pa.table({f"{t}_id": base + np.arange(n, dtype=np.int64), "voided": voided}),
                os.path.join(d, f"{t}.parquet"),
            )
            volume[t] += n
            per_table_counts[t] = int((voided == 0).sum()) if t != "patient_state" else n

        if not name.startswith("openmrs_") or i == missing_src:
            continue
        site_names[site_id] = fac_name
        for t, _ in PP_COUNTED:
            src_counts[(site_id, t)] = per_table_counts[t]
        ords = [max_dates[t].toordinal() for t in ("encounter", "obs", "orders")]
        consistency[pv] = (
            fac_name,
            max_dates["encounter"],
            max_dates["obs"],
            max_dates["orders"],
            float(round(statistics.stdev(ords))),
        )

    # --- destination warehouse -------------------------------------------
    wh_root = os.path.join(root, "warehouse")
    dest_counts: dict = {}
    reconciliation: dict = {}
    all_sites = sorted({s for s, _ in src_counts})
    warehouse = {}
    for t, voidable in PP_COUNTED:
        site_col, void_col = [], []
        for s in all_sites + [DEST_ONLY_SITE]:
            src = src_counts.get((s, t))
            case = rng.integers(0, 4) if src is not None else 3
            if case == 0:  # one side only: no destination rows
                continue
            if case == 1:
                kept = src
            elif case == 2:
                kept = max(0, src + int(rng.choice([-3, -2, -1, 1, 2, 3])))
            else:
                kept = int(rng.integers(1, 50)) if src is None else src + int(rng.integers(4, 40))
            n_void = int(rng.integers(0, 5)) if voidable else 0
            site_col += [s] * (kept + n_void)
            void_col += [0] * kept + [1] * n_void
            counted = kept if voidable else kept + n_void
            if (t != "patient_state" or s == 20) and counted > 0:
                dest_counts[(s, t)] = counted
        path = os.path.join(wh_root, f"{t}.parquet")
        _write(
            pa.table({
                "site_id": pa.array(site_col, type=pa.int32()),
                "voided": pa.array(void_col, type=pa.int32()),
            }),
            path,
        )
        warehouse[t] = path

    for key in set(src_counts) | set(dest_counts):
        src, dst = src_counts.get(key), dest_counts.get(key)
        reconciliation[key] = (
            site_names.get(key[0]) if src is not None else None,
            src,
            dst,
            None if src is None or dst is None else src - dst,
        )

    person = {k: np.concatenate(v) for k, v in person_cols.items()}
    profile = {
        "person_id": (0, len(person["person_id"]), str(person["person_id"].min()), str(person["person_id"].max())),
        "voided": (0, len(set(person["voided"].tolist())), str(person["voided"].min()), str(person["voided"].max())),
        "gender": (
            0,
            len(set(person["gender"].tolist())),
            min(GENDERS[g] for g in set(person["gender"].tolist())),
            max(GENDERS[g] for g in set(person["gender"].tolist())),
        ),
        "birth_year": (
            0,
            len(set(person["birth_year"].tolist())),
            str(person["birth_year"].min()),
            str(person["birth_year"].max()),
        ),
    }
    rules = {
        "obs.value_numeric.not_null": nulls,
        "obs.value_numeric.in_range": nulls + out_of_range,
        "obs.voided.accepted_values": 0,
        "obs.person_id.ri.person.person_id": orphans,
        "person.person_id.unique": 0,
    }
    skipped = [(names[missing_src], "orders")]
    return Fleet(
        sources=sources,
        warehouse=warehouse,
        missing=(names[missing_src], "orders"),
        input_bytes=_dir_bytes(root),
        consistency=consistency,
        reconciliation=reconciliation,
        attempted=n_sources,
        succeeded=n_sources - 1,
        skipped=skipped,
        volume=volume,
        freshness=freshness,
        rules=rules,
        profile=profile,
    )
