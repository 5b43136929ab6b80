"""Seeded landing-file generator for the ``ingest`` workload.

Writes the four inputs the medallion bronze layer routes by file name:
users and posts as JSON arrays, covid as UTF-8 CSV and telco churn as
latin-1 CSV.  Defects are planted at known rates so the pipeline's output
can be checked exactly:

- users: duplicate ids (copies that differ only in ``phone``), invalid
  emails, missing addresses;
- posts: posts whose ``userId`` has no user (orphans);
- covid: duplicate (date, country, province) rows, blank provinces and
  blank numeric cells;
- telco: blank ``TotalCharges`` cells and non-ASCII customer ids.

The same seed gives byte-identical files.  :func:`generate` returns what
the pipeline should report for them.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from datetime import date, timedelta

STAMP = "20240301120000"

# Row counts: 11,880 landing rows in total.  One pipeline run fires the
# same ~150 Spark jobs at any size, so per-op time is mostly fixed cost;
# this size keeps one run of the benchmark inside its time budget.
USERS = 1_000
USER_DUPS = 20
POSTS = 4_000
COVID_COUNTRIES = 20
COVID_PROVINCES = 4
COVID_DAYS = 60
COVID_DUPS = 60
TELCO = 2_000

TELCO_HEADER = [
    "customerID", "gender", "SeniorCitizen", "Partner", "Dependents",
    "tenure", "PhoneService", "MultipleLines", "InternetService",
    "OnlineSecurity", "OnlineBackup", "DeviceProtection", "TechSupport",
    "StreamingTV", "StreamingMovies", "Contract", "PaperlessBilling",
    "PaymentMethod", "MonthlyCharges", "TotalCharges", "Churn",
]
BAD_EMAIL_ENDINGS = ("@example", ".example.com", "@@example.com")
WORDS = (
    "data pipeline spark bronze silver gold quality check stream batch "
    "table record user post covid churn lake query join window great "
    "good bad terrible love hate https://example.org/x"
).split()


def _users(rng: random.Random) -> tuple[list[dict], int]:
    rows, bad_email = [], 0
    for uid in range(1, USERS + 1):
        r = rng.random()
        if r < 0.04:
            email = f"user{uid}{rng.choice(BAD_EMAIL_ENDINGS)}"
            bad_email += 1
        else:
            email = f" User{uid}@Example.COM "
        user = {
            "id": uid,
            "name": f" User Name{uid} ",
            "username": f"user{uid}",
            "email": email,
            "phone": f"1-770-736-{uid % 10000:04d} x{rng.randrange(100000)}",
            "website": f"user{uid}.example.org",
            "company": {
                "name": f"Comp{rng.randrange(200)}",
                "catchPhrase": "Multi-layered synergy",
                "bs": "harness markets",
            },
        }
        if rng.random() >= 0.03:  # the rest have no address
            user["address"] = {
                "street": f"{uid} Main St",
                "suite": f"Apt {rng.randrange(1, 500)}",
                "city": rng.choice(("Springfield", "Shelbyville", "Ogdenville")),
                "zipcode": f"{90000 + uid % 1000}",
                "geo": {
                    "lat": f"{rng.uniform(-80, 80):.4f}",
                    "lng": f"{rng.uniform(-170, 170):.4f}",
                },
            }
        rows.append(user)
    for uid in rng.sample(range(1, USERS + 1), USER_DUPS):
        dup = dict(rows[uid - 1])
        dup["phone"] = f"555-{uid:06d}"
        rows.append(dup)
    rng.shuffle(rows)
    return rows, bad_email


def _posts(rng: random.Random) -> tuple[list[dict], int]:
    rows, orphans = [], 0
    for pid in range(1, POSTS + 1):
        if rng.random() < 0.01:
            user_id = USERS + 1 + rng.randrange(1000)
            orphans += 1
        else:
            user_id = rng.randrange(1, USERS + 1)
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(5, 30)))
        rows.append(
            {"userId": user_id, "id": pid, "title": f"Post title {pid}", "body": body}
        )
    return rows, orphans


def _covid(rng: random.Random) -> tuple[str, int, int]:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(["Date", "Country/Region", "Province/State", "Confirmed", "Recovered", "Deaths"])
    start = date(2020, 3, 1)
    rows = []
    for c in range(COVID_COUNTRIES):
        for p in range(COVID_PROVINCES):
            # one province per country is reported with a blank name
            province = "" if p == 0 else f"P{p}"
            confirmed = rng.randrange(10, 100)
            for d in range(COVID_DAYS):
                confirmed += rng.randrange(0, 50)
                deaths = confirmed // rng.randrange(20, 60)
                recovered = confirmed // 2
                cells = [str(confirmed), str(recovered), str(deaths)]
                if rng.random() < 0.01:
                    cells[rng.randrange(3)] = ""
                rows.append(
                    [(start + timedelta(days=d)).isoformat(), f"Country{c:02d}", province, *cells]
                )
    distinct = len(rows)
    rows += [list(rows[i]) for i in rng.sample(range(distinct), COVID_DUPS)]
    rng.shuffle(rows)
    w.writerows(rows)
    return out.getvalue(), len(rows), distinct


def _telco(rng: random.Random) -> tuple[bytes, int]:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(TELCO_HEADER)
    yes_no = ("Yes", "No")
    for i in range(TELCO):
        tenure = rng.randrange(0, 72)
        monthly = round(rng.uniform(18, 120), 2)
        total = "" if rng.random() < 0.02 else f"{monthly * tenure:.2f}"
        w.writerow([
            f"{i:05d}-{'AÑÉ'[i % 3]}{i % 97:02d}",
            rng.choice(("Female", "Male")), str(rng.randrange(2)),
            rng.choice(yes_no), rng.choice(yes_no), str(tenure),
            rng.choice(yes_no), rng.choice(("No", "Yes", "No phone service")),
            rng.choice(("DSL", "Fiber optic", "No")),
            rng.choice(yes_no), rng.choice(yes_no), rng.choice(yes_no),
            rng.choice(yes_no), rng.choice(yes_no), rng.choice(yes_no),
            rng.choice(("Month-to-month", "One year", "Two year")),
            rng.choice(yes_no),
            rng.choice(("Electronic check", "Mailed check", "Bank transfer")),
            f"{monthly:.2f}", total, rng.choice(yes_no),
        ])
    return out.getvalue().encode("latin-1"), TELCO


def generate(seed: int, landing_dir: str) -> dict:
    """Write the landing files for ``seed`` into ``landing_dir``.

    Returns the sizes and the counts the pipeline must report:
    ``bronze`` and ``silver`` row counts per table and the planted
    failure counts of two quality checks.
    """
    rng = random.Random(seed)
    os.makedirs(landing_dir, exist_ok=True)
    users, bad_email = _users(rng)
    posts, orphans = _posts(rng)
    covid, covid_rows, covid_distinct = _covid(rng)
    telco, telco_rows = _telco(rng)
    files = {
        f"users_{STAMP}.json": json.dumps(users, indent=1).encode(),
        f"posts_{STAMP}.json": json.dumps(posts, indent=1).encode(),
        f"covid_{STAMP}.csv": covid.encode(),
        f"Telco-Customer-Churn_{STAMP}.csv": telco,
    }
    for name, data in files.items():
        with open(os.path.join(landing_dir, name), "wb") as fh:
            fh.write(data)
    return {
        "bytes": sum(len(d) for d in files.values()),
        "rows": len(users) + len(posts) + covid_rows + telco_rows,
        "bronze": {
            "users": len(users), "posts": len(posts),
            "covid": covid_rows, "telco": telco_rows,
        },
        "silver": {
            "clean_users": USERS, "clean_posts": len(posts),
            "clean_covid": covid_distinct, "clean_telco": telco_rows,
        },
        "checks": {"users_email_format": bad_email, "posts_user_fk": orphans},
    }
