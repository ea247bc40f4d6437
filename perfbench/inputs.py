"""Seeded input generators for the two workloads.

Every generator is a pure function of the seed: the same seed writes the
same files (the registry tables are fixed and ignore it). Outputs are cached under ``<cache>/<kind>-<seed>/`` and a
``.done`` marker makes a half-written directory count as missing.
Generation is the benchmark's own cost; ``run.py`` reports it as info,
not as a metric.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

# Target geographies of the NCL pipeline (FIXTURES.md section 1).
TARGETS = ["E56000027", "E40000003", "E92000001"]

# ---------------------------------------------------------------- workbooks

_CA_CODES = [f"E560000{i:02d}" for i in range(10, 42)]  # 32 non-NCL CAs
_GEOS = (
    [("Cancer Alliance", c, f"CA {c}") for c in _CA_CODES]
    + [
        ("Cancer Alliance", "E56000027", "North Central London"),
        ("Region", "E40000003", "London"),
        ("Country", "E92000001", "England"),
    ]
    + [("ICB", f"E540000{i:02d}", f"ICB {i}") for i in range(10, 30)]
)
_INDEX_SITES = ["Index", "Breast", "Other", "Lung", "Colorectal", "Prostate",
                "Bladder", "Kidney"]
_AGES = ["All ages", "15-44", "65-99"]
_ADULT_SITES = {
    "Breast": ["Female"], "Larynx": ["Male"], "Prostate": ["Male"],
    "Cervix": ["Female"], "Ovary": ["Female"], "Uterus": ["Female"],
    "Testis": ["Male"], "Lung": ["Persons", "Male", "Female"],
    "Colon": ["Persons", "Male", "Female"],
    "Rectum": ["Persons", "Male", "Female"],
    "Stomach": ["Persons", "Male", "Female"],
    "Pancreas": ["Persons", "Male", "Female"],
    "Bladder": ["Persons", "Male", "Female"],
    "Kidney": ["Persons", "Male", "Female"],
    "Liver": ["Persons", "Male", "Female"],
    "Melanoma": ["Persons", "Male", "Female"],
    "Myeloma": ["Persons", "Male", "Female"],
    "Leukaemia": ["Persons", "Male", "Female"],
    "Brain": ["Persons", "Male", "Female"],
    "Oesophagus": ["Persons", "Male", "Female"],
}
_STD = ["Age-standardised (5 age groups)", "Age-standardised (3 age groups)",
        "Non-standardised"]
_MONTHS = ["January", "March", "June", "September", "November"]


def _pct(rng, n, null_frac):
    v = np.round(rng.uniform(35.0, 95.0, n), 1)
    return np.where(rng.random(n) < null_frac, np.nan, v)


def index_sheet(rng, years) -> pd.DataFrame:
    """Raw 'Table 5' rows (FIXTURES.md section 1), about 15k rows."""
    keys = [
        (g, site, gender, age, year, ysd)
        for g in _GEOS
        for site in _INDEX_SITES
        for gender in (["Female", "Male"] if site == "Breast" else
                       ["Persons", "Male", "Female"])
        for age in _AGES
        for year in years
        for ysd in (1, 5)
    ]
    n = len(keys)
    surv = _pct(rng, n, 0.08)
    df = pd.DataFrame({
        "Geography type": [k[0][0] for k in keys],
        "Geography code": [k[0][1] for k in keys],
        "Geography name": [k[0][2] for k in keys],
        "Cancer site": [k[1] for k in keys],
        "Gender": [k[2] for k in keys],
        "Age at diagnosis": [k[3] for k in keys],
        "Standardisation type": np.where(
            rng.random(n) < 0.5, "Age-standardised", "Non-standardised"),
        "Diagnosis year": [k[4] for k in keys],
        "Years since diagnosis": [k[5] for k in keys],
        "Patient numbers": np.where(rng.random(n) < 0.05, np.nan,
                                    rng.integers(20, 5000, n)),
        "Survival (%)": surv,
        "Lower CI": np.round(surv - 2.0, 1),
        "Upper CI": np.round(surv + 2.0, 1),
        "Precision": np.round(rng.uniform(0.1, 2.0, n), 2),
        "Standard error": np.round(rng.uniform(0.2, 3.0, n), 2),
        "Substituted by Other Geography": np.where(
            rng.random(n) < 0.1, "E92000001", None),
    })
    return df


def adult_sheet(rng) -> pd.DataFrame:
    """Raw 'Table 4' rows (FIXTURES.md section 2), about 15k rows."""
    keys = [
        (g, site, gender, std, ysd)
        for g in _GEOS
        for site, genders in _ADULT_SITES.items()
        for gender in genders
        for std in _STD
        for ysd in (1, 5)
    ]
    n = len(keys)
    # ties in the survival figure exercise RANK's gap semantics
    return pd.DataFrame({
        "Geography type": [k[0][0] for k in keys],
        "Geography name": [k[0][2] for k in keys],
        "Geography code": [k[0][1] for k in keys],
        "Cancer site": [k[1] for k in keys],
        "Gender": [k[2] for k in keys],
        "Standardisation type": [k[3] for k in keys],
        "Years since diagnosis": [k[4] for k in keys],
        "Patients": rng.integers(20, 5000, n),
        "Net survival (%)": np.round(_pct(rng, n, 0.08)),
        "Overall survival (%)": _pct(rng, n, 0.2),
    })


def _grid(pdf: pd.DataFrame, junk_rows: int) -> list[list]:
    """pandas frame -> worksheet grid behind ``junk_rows`` note rows."""
    junk = [[f"Publication note {i}"] if i % 3 else [] for i in range(junk_rows)]
    cols = [pdf[c].astype(object).where(pdf[c].notna(), None).tolist()
            for c in pdf.columns]
    rows = [
        [v.item() if isinstance(v, np.generic) else v for v in row]
        for row in zip(*cols)
    ]
    return junk + [list(map(str, pdf.columns))] + rows


# Publication cycles per run: each is one Index and one adult workbook,
# a year apart, loaded over the previous cycle's tables.
CYCLES = 2


def write_workbooks(out: str, seed: int) -> dict:
    """``CYCLES`` publication cycles, each an Index and an adult workbook
    under ``cycle-<c>/``, plus the raw frames as parquet for the
    correctness check's DataFrame path. The seed picks the years and
    figures. Returns each cycle's directory, snapshot date and diagnosis
    window."""
    from cancer_survival_etl_spark.sources.xlsx import write_xlsx

    rng = np.random.default_rng([seed, 1])
    cycles = []
    for c in range(CYCLES):
        y1 = 2008 + seed % 6 + c
        d = os.path.join(out, f"cycle-{c}")
        os.makedirs(d)
        idx = index_sheet(rng, [y1 + 5, y1 + 6])
        adult = adult_sheet(rng)
        month = _MONTHS[int(rng.integers(len(_MONTHS)))]
        snapshot = f"{month} {y1 + 7}"
        write_xlsx(os.path.join(d, f"Index_{y1 + 7}.xlsx"),
                   {"Table 5": _grid(idx, 10)})
        notes = [[] for _ in range(10)] + [
            [f"Survival estimates as at {snapshot} (final)"]]
        write_xlsx(os.path.join(d, f"adult_{y1}_{y1 + 4}.xlsx"),
                   {"Table 4": _grid(adult, 9), "Notes and definitions": notes})
        idx.to_parquet(os.path.join(d, "raw_index.parquet"))
        adult.to_parquet(os.path.join(d, "raw_adult.parquet"))
        cycles.append({"dir": f"cycle-{c}", "snapshot": snapshot,
                       "window": f"{y1}-{y1 + 4}", "index_rows": len(idx),
                       "adult_rows": len(adult)})
    return {"cycles": cycles}


# ---------------------------------------------------------------- registry

# The registry tables the benchmark's queries read, in the shape of the
# repo's sf0.1 fixture (TESTDATA.md): 100k events over 30 days from 1,500
# users, ts ascending with event_id, five uniform event types, values
# exponential around 50; 5k documents with doc_id 0..4999 and 10-100
# words each. The queries read only events(user_id, ts, event_type) and
# documents(doc_id), and derive the fit cohorts from md5(doc_id), so
# survival_cox and survival_fine_gray see exactly the fixture's cohorts.
# The tables do not depend on --seed: like the fixture, they are fixed.
REGISTRY_SEED = 42
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()


def write_registry(out: str, sf: float = 0.1) -> dict:
    """events and documents as parquet, in a ``sf<sf>`` subdirectory
    (queries read the scale from the path)."""
    out = os.path.join(out, f"sf{sf:g}")
    os.makedirs(out)
    rng = np.random.default_rng(REGISTRY_SEED)
    n_ev, n_users, n_doc = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, n_ev)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 101, n_doc)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh", "en"])[
            rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    for name, df in [("events", events), ("documents", documents)]:
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    return {"events": n_ev, "users": n_users, "documents": n_doc}


# ---------------------------------------------------------------- cohort

# Subjects in the beyond-cap cohort. With a continuous covariate almost
# every subject is its own (age, stage, duration, event) cell, so the
# cell count sits at least 1.5x above operators.driverfit.MAX_DRIVER_CELLS
# (2^19): the fit stays beyond the bound if the cap moves to bytes.
COHORT_SUBJECTS = 810_000
COHORT_MIN_CELLS = 3 << 18  # 1.5 * 2^19
COHORT_TRUTH = {"mu": 1.5, "age": -0.2, "stage": -0.2, "sigma": 0.7}
COHORT_HORIZON = 15.0
COHORT_FILES = 8


def write_cohort(out: str, seed: int) -> dict:
    """Centred continuous age, stage 0-3, duration > 0 and event flag."""
    rng = np.random.default_rng([seed, 3])
    n, tr = COHORT_SUBJECTS, COHORT_TRUTH
    # centred and bounded: raw ages would overflow the nano-lattice sums
    age = np.round(np.clip(rng.normal(0.0, 0.5, n), -1.5, 1.5), 4)
    stage = rng.integers(0, 4, n).astype(np.int64)
    w = np.log(-np.log(rng.uniform(1e-12, 1.0, n)))
    t = np.exp(tr["mu"] + tr["age"] * age + tr["stage"] * stage
               + tr["sigma"] * w)
    # two decimals, floored at 0.01: a duration rounded to 0 breaks ln t
    dur = np.maximum(np.round(np.minimum(t, COHORT_HORIZON), 2), 0.01)
    pdf = pd.DataFrame({"age": age, "stage": stage, "duration": dur,
                        "event": (t < COHORT_HORIZON).astype(np.int64)})
    for i, part in enumerate(np.array_split(np.arange(n), COHORT_FILES)):
        pdf.iloc[part].to_parquet(
            os.path.join(out, f"part-{i:02d}.parquet"), index=False)
    cells = len(pdf.drop_duplicates())
    if cells < COHORT_MIN_CELLS:
        raise ValueError(f"cohort has {cells} cells, fewer than {COHORT_MIN_CELLS}")
    stage_cells = len(pdf[["stage", "duration", "event"]].drop_duplicates())
    return {"subjects": n, "cells": cells, "stage_cells": stage_cells}


def write_survival(out: str, seed: int) -> dict:
    """The fixed registry tables under ``registry/`` and the seeded cohort
    under ``cohort/``."""
    os.makedirs(os.path.join(out, "registry"))
    os.makedirs(os.path.join(out, "cohort"))
    return {"registry": write_registry(os.path.join(out, "registry")),
            "cohort": write_cohort(os.path.join(out, "cohort"), seed)}


_WRITERS = {"etl": write_workbooks, "survival": write_survival}


def _prune(cache_root: str, kind: str, keep: int) -> None:
    """Drop all but the ``keep`` newest cached seeds of ``kind``."""
    if not os.path.isdir(cache_root):
        return
    dirs = sorted(
        (e.path for e in os.scandir(cache_root)
         if e.is_dir() and e.name.startswith(f"{kind}-")),
        key=os.path.getmtime,
    )
    for d in dirs[: max(0, len(dirs) - keep)]:
        shutil.rmtree(d, ignore_errors=True)


def cached(cache_root: str, kind: str, seed: int) -> tuple[str, dict, float]:
    """Directory of the ``kind`` inputs for ``seed``, writing them when
    missing. Returns (dir, description, seconds spent generating)."""
    import json

    d = os.path.join(cache_root, f"{kind}-{seed}")
    done = os.path.join(d, ".done")
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f), 0.0
    _prune(cache_root, kind, keep=2)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    info = _WRITERS[kind](d, seed)
    gen_s = time.perf_counter() - t0
    with open(done, "w") as f:
        json.dump(info, f)
    return d, info, gen_s
