"""Seeded cohort generator for the CoCoA pipeline benchmark.

Writes, under one output directory:
  consent/part-*.parquet     consenting cohort, >= 2 x nproc files
  noconsent/part-*.parquet   non-consenting cohort, same layout
  dates.txt                  the date scope, one ISO date per line
  manifest.json              per-date row counts after cleaning

Schema: gclid, conversion_timestamp, conversion_date, conversion_value,
four Zipf-distributed categoricals (cardinalities 3/6/30/200) and one or
two numeric features. About 3% of conversion values are null or
non-positive, so cleaning drops them. Consent gclids start with "C-" and
noconsent gclids with "N-", so the two namespaces never meet.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CARDINALITIES = {"cat_a": 3, "cat_b": 6, "cat_c": 30, "cat_d": 200}
ZIPF_S = 1.2
DIRTY_SHARE = 0.03
FIRST_DATE = datetime.date(2024, 3, 1)
PREFIX = {"consent": "C-", "noconsent": "N-"}

# Per-date row counts are AFTER cleaning.
WORKLOADS = {
    "daily_dense_k": dict(dates=1, consent=3000, noconsent=750,
                          numerics=2, strategy="k=5"),
    "backfill_percentile": dict(dates=5, consent=500, noconsent=125,
                                numerics=1, strategy="percentile=0.9"),
}


def zipf_choice(rng, card, n):
    weights = 1.0 / np.arange(1, card + 1) ** ZIPF_S
    return rng.choice(card, size=n, p=weights / weights.sum())


def cohort_table(rng, spec, cohort, n_clean_per_date):
    """One cohort over all dates; returns (table, clean rows per date)."""
    n_dirty = int(round(n_clean_per_date * DIRTY_SHARE / (1 - DIRTY_SHARE)))
    n_per_date = n_clean_per_date + n_dirty
    n = n_per_date * spec["dates"]
    date_idx = np.repeat(np.arange(spec["dates"]), n_per_date)
    dates = np.array([FIRST_DATE + datetime.timedelta(days=int(d))
                      for d in range(spec["dates"])], dtype="datetime64[D]")
    day = dates[date_idx]
    seconds = rng.integers(0, 86400, size=n).astype("timedelta64[s]")
    value = np.round(rng.lognormal(3.0, 0.8, size=n), 2)
    valid = np.ones(n, dtype=bool)
    for d in range(spec["dates"]):
        rows = np.flatnonzero(date_idx == d)
        dirty = rng.choice(rows, size=n_dirty, replace=False)
        valid[dirty] = False
    mask = np.zeros(n, dtype=bool)
    dirty_rows = np.flatnonzero(~valid)
    null_rows = dirty_rows[: len(dirty_rows) // 2]
    value[dirty_rows[len(dirty_rows) // 2:]] = -np.round(
        rng.uniform(0, 5, size=len(dirty_rows) - len(null_rows)), 2)
    mask[null_rows] = True
    columns = {
        "gclid": pa.array([f"{PREFIX[cohort]}{i:08d}" for i in range(n)]),
        "conversion_timestamp": pa.array(
            day.astype("datetime64[s]") + seconds,
            type=pa.timestamp("us", tz="UTC")),
        "conversion_date": pa.array(day, type=pa.date32()),
        "conversion_value": pa.array(value, mask=mask, type=pa.float64()),
    }
    for name, card in CARDINALITIES.items():
        codes = zipf_choice(rng, card, n)
        columns[name] = pa.array([f"{name[-1]}{c}" for c in codes])
    for j in range(spec["numerics"]):
        columns[f"x{j + 1}"] = pa.array(
            np.round(rng.normal(0.0, 10.0, size=n), 3))
    clean = {str(dates[d]): int(n_clean_per_date) for d in range(spec["dates"])}
    return pa.table(columns), clean


def write_files(table, out_dir, n_files, rng):
    os.makedirs(out_dir)
    order = rng.permutation(table.num_rows)
    for f, rows in enumerate(np.array_split(order, n_files)):
        pq.write_table(table.take(np.sort(rows)),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"))


def generate(workload, seed, out_dir, n_files):
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    os.makedirs(out_dir)
    manifest = {"workload": workload, "seed": seed, "files_per_table": n_files,
                "strategy": spec["strategy"], "numerics": spec["numerics"]}
    for cohort in ("consent", "noconsent"):
        table, clean = cohort_table(rng, spec, cohort, spec[cohort])
        write_files(table, os.path.join(out_dir, cohort), n_files, rng)
        manifest[f"{cohort}_raw_rows"] = table.num_rows
        manifest[f"{cohort}_clean_rows"] = clean
    manifest["dates"] = sorted(manifest["consent_clean_rows"])
    manifest["gclid_prefix"] = PREFIX
    with open(os.path.join(out_dir, "dates.txt"), "w") as f:
        f.write("\n".join(manifest["dates"]) + "\n")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

