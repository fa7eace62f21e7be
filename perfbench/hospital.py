"""Raw hospital feeds for the medallion workload, with seeded batches.

The initial snapshot comes from the package's own generator
(``testing.datagen.HospitalDataGen``).  Each incremental batch rewrites the
six raw files as a full snapshot with seeded changes:

- about 5% of each entity's rows get one tracked attribute changed to a
  value that stays different after cleansing;
- for the four fact entities, changed rows and new keys all carry a valid
  date in the batch's two months, so a Gold refresh of just those months
  is complete;
- about 2% new keys per entity.

Because every change is known, the expected SCD2 version counts (current
and total per entity) follow directly and are checked after each run.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

from hospital_data_engineering_pipeline_end_to_end_project_spark.testing import datagen

FACT_DATE = {
    "admissions": "admission_date",
    "vitals": "timestamp",
    "procedures": "performed_at",
    "billing": "billing_date",
}
CSV = ("patients", "doctors", "admissions")


@dataclass
class Expected:
    current: int
    total: int


def _month(value) -> int | None:
    if not isinstance(value, str) or len(value) < 10 or value[4] != "-":
        return None
    return int(value[5:7])


def _versions(entity: str, row: dict) -> int:
    """SCD2 keys one raw row contributes: billing is keyed per service."""
    if entity == "billing":
        return len({item["service"] for item in row["line_items"]})
    return 1


def _other(rng: random.Random, values: list, old):
    return rng.choice([v for v in values if v != old])


def _change(entity: str, row: dict, rng: random.Random) -> None:
    """Change one tracked attribute so the cleansed value differs."""
    if entity == "patients":
        row["city"] = _other(rng, datagen.CITIES, row["city"])
    elif entity == "doctors":
        row["speciality"] = _other(rng, datagen.SPECIALITIES, row["speciality"])
    elif entity == "admissions":
        row["reason"] = _other(rng, datagen.REASONS, row["reason"])
    elif entity == "vitals":
        old = row["heart_rate"]
        row["heart_rate"] = old + 1 if isinstance(old, int) else 100
    elif entity == "procedures":
        row["procedure_name"] = _other(rng, datagen.PROCEDURES, row["procedure_name"])
    else:
        old = row["total"]
        row["total"] = round(old + 1.0, 2) if isinstance(old, float) else 500.0


class HospitalFeed:
    """Raw snapshot state plus the version counts it implies."""

    def __init__(self, seed: int, n_patients: int, n_doctors: int, n_rows: int):
        cfg = datagen.GenConfig(
            seed=seed, n_patients=n_patients, n_doctors=n_doctors,
            n_admissions=n_rows, n_vitals=n_rows, n_procedures=n_rows,
            n_billing=n_rows,
        )
        self.gen = datagen.HospitalDataGen(cfg)
        self.rng = random.Random(seed + 1)
        self.pat_ids: list[str] = []
        self.doc_ids: list[str] = []
        self.rows = {
            "patients": self._make("patients", n_patients),
            "doctors": self._make("doctors", n_doctors),
        }
        for entity in FACT_DATE:
            self.rows[entity] = self._make(entity, n_rows)
        self.dups = {
            e: [self.rng.random() < (0.05 if e in ("patients", "doctors") else 0.10)
                for _ in rows]
            for e, rows in self.rows.items()
        }
        self.expected = {}
        for e, rows in self.rows.items():
            keys = sum(_versions(e, r) for r in rows)
            self.expected[e] = Expected(current=keys, total=keys)

    def _make(self, entity: str, n: int) -> list[dict]:
        """``n`` fresh rows of one entity from the package generator."""
        g = self.gen
        setattr(g.cfg, f"n_{entity}", n)
        if entity == "patients":
            rows = g.patients()
            self.pat_ids += [r["patient_id"] for r in rows]
        elif entity == "doctors":
            rows = g.doctors()
            self.doc_ids += [r["doctor_id"] for r in rows]
        elif entity == "admissions":
            rows = g.admissions(self.pat_ids, self.doc_ids)
        else:
            rows = getattr(g, entity)(self.pat_ids)
        return rows

    def batch(self) -> list[tuple[int, int]]:
        """Apply one batch of seeded changes; returns the (year, month)
        partitions the fact changes fall in."""
        rng = self.rng
        months = sorted(rng.sample(range(1, 13), 2))
        for entity, rows in self.rows.items():
            n_change = max(1, len(rows) // 20)
            n_new = max(1, len(rows) // 50)
            date_col = FACT_DATE.get(entity)
            if date_col is None:
                pool = list(range(len(rows)))
            else:
                pool = [i for i, r in enumerate(rows) if _month(r[date_col]) in months]
            changed = rng.sample(pool, min(n_change, len(pool)))
            for i in changed:
                _change(entity, rows[i], rng)
            new = self._make(entity, n_new)
            if date_col is not None:
                for r in new:
                    d = f"{self.gen.cfg.year}-{rng.choice(months):02d}-{rng.randint(1, 28):02d}"
                    r[date_col] = d if entity in ("admissions", "billing") else d + "T12:00:00"
            rows += new
            self.dups[entity] += [False] * len(new)
            exp = self.expected[entity]
            added = sum(_versions(entity, r) for r in new)
            exp.current += added
            exp.total += added + sum(_versions(entity, rows[i]) for i in changed)
        return [(self.gen.cfg.year, m) for m in months]

    def write(self, raw_dir: str) -> int:
        """Write the current snapshot; returns the bytes written."""
        os.makedirs(raw_dir, exist_ok=True)
        total = 0
        for entity, rows in self.rows.items():
            out = []
            for r, dup in zip(rows, self.dups[entity]):
                out += [r, r] if dup else [r]
            if entity in CSV:
                path = os.path.join(raw_dir, f"{entity}_raw.csv")
                datagen.HospitalDataGen._write_csv(path, out)
            else:
                path = os.path.join(raw_dir, f"{entity}_raw.json")
                datagen.HospitalDataGen._write_ndjson(path, out)
            total += os.path.getsize(path)
        return total
