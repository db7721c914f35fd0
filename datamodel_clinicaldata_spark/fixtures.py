"""Deterministic clinical fixture generator (FIXTURES.md schemas).

Generates ``users``/``weights``/``treatments`` CSVs shaped exactly like the
reference's real inputs (SURVEY.md §1.2), seeded, with every edge case
FIXTURES.md §4 requires: cohort gaps, single-row cohorts, gain boundaries,
pre-treatment weigh-ins, sort-key ties, treatment restarts, multi-treatment
users, zero-weigh-in users, duplicate rows, NULL UpdatedDate, filter
boundary ages, non-default clinics.
"""

from __future__ import annotations

import csv
import os
import random
import uuid
from datetime import datetime, timedelta

N_USERS = 24
FMT = "%Y-%m-%d %H:%M:%S"


def _uid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=1))


def generate_clinical_csvs(out_dir: str) -> dict:
    """Write users.csv / weights.csv / treatments.csv (seed 7); returns
    summary."""
    rng = random.Random(7)
    os.makedirs(out_dir, exist_ok=True)
    base = datetime(2023, 3, 1, 9, 0, 0)

    users, weights, treatments = [], [], []
    first_names = ["Ada", "Ben", "Cleo", "Dan", "Eve", "Finn", "Gus", "Hana"]
    last_names = ["Ng", "Ortiz", "Patel", "Quinn", "Rao", "Singh"]

    for i in range(N_USERS):
        uid = _uid(rng)
        # Boundary ages 18/72 present (FIXTURES.md §4.11) + out-of-range.
        age = [18, 72, 17, 73, *range(20, 70, 3)][i % 20]
        clinic = [5066, 5066, 5067, 5068][i % 4]
        gender = "Male" if i % 2 == 0 else "Female"
        created = base + timedelta(days=i, hours=i % 5)
        users.append(
            {
                "UID": uid,
                "Name": first_names[i % len(first_names)],
                "LastName": last_names[i % len(last_names)],
                "Gender": gender,
                "Unit": 1,
                "Birthday": (base - timedelta(days=365 * age + 100)).strftime(FMT),
                "Age": age,
                "Height": 150 + (i * 7) % 50,
                "CreatedDate": created.strftime(FMT),
                "IsActive": i % 5 != 0,
                "ClinicID": clinic,
                "loginId": "",  # all-null typed column (SURVEY.md §1.2)
                "success": i % 3 != 0,
            }
        )

        start = created + timedelta(days=2)
        episodes = [(1, start)]
        if i % 6 == 2:  # treatment restart: 1 → 2 → 1 (FIXTURES.md §4.6)
            episodes = [(1, start), (2, start + timedelta(days=30)), (1, start + timedelta(days=60))]
        elif i % 6 == 4:  # multi-treatment user (§4.7)
            episodes = [(1, start), (2, start + timedelta(days=45))]
        for ttype, tstart in episodes:
            treatments.append(
                {
                    "MasterUserID": uid,
                    "TreatmentTypeID": ttype,
                    "StartDate": tstart.strftime(FMT),
                }
            )

        if i % 8 == 7:  # zero weigh-ins (§4.8)
            continue

        w = 60.0 + (i % 30)
        # Weekly pattern with a gap at week 2 (§4.1) and pre-treatment row (§4.4).
        day_offsets = [-3, 0, 2, 5, 15, 17, 22, 29, 36, 43]
        if i % 5 == 1:
            day_offsets = [0, 9, 16]  # sparse → single-row cohorts (§4.2)
        for j, off in enumerate(day_offsets):
            ts = start + timedelta(days=off, hours=(j * 3) % 12)
            w = round(w + rng.uniform(-2.0, 1.5), 1)  # walk, mostly losing
            if i % 4 == 3 and j == 4:
                w = round(w + 3.0, 1)  # gain boundary (§4.3)
            row = {
                "MasterUserID": uid,
                "Weight": w,
                "BMI": round(w / 3.2, 1),
                "BodyFat": round(18 + (w % 7), 1),
                "BodyWater": round(50 + (w % 5), 1),
                "Bone": round(3 + (w % 2) / 10, 2),
                "VisceralFat": round(5 + (w % 4), 1),
                "BMR": round(1400 + w * 3, 0),
                "MuscleMass": round(w * 0.4, 1),
                "CreatedDate": ts.strftime(FMT),
                # NULL UpdatedDate on every 4th row (§4.10, WIR semantics)
                "UpdatedDate": "" if j % 4 == 3 else ts.strftime(FMT),
                "IsActive": True,
                "IsDelete": False,
            }
            weights.append(row)
            if i % 7 == 3 and j == 2:
                weights.append(dict(row))  # exact duplicate + sort-key tie (§4.5, §4.9)

    for name, rows in [("users", users), ("weights", weights), ("treatments", treatments)]:
        with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as f:
            wr = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
            wr.writeheader()
            wr.writerows(rows)

    return {"users": len(users), "weights": len(weights), "treatments": len(treatments)}


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clinical_fixtures"
    print(generate_clinical_csvs(out))
