"""Seeded inputs of the clinical workload: the three CSV sources the
reference CLI reads (users, weights, treatments), written with the
standard library before the JVM starts.

The rows follow the program's own derivation of clinical tables from the
test data's customer and orders tables (graft.queries.Clinical): one user
and one treatment per customer, one weigh-in per order. Customers and
orders are drawn from the seed with the test data's value domains:
nation keys 0-24, order prices 1000-500000, order dates over 2400 days
from 1995-01-01.
"""
import csv
import datetime
import pathlib
import random

USER_EPOCH = datetime.datetime(2023, 1, 1)
TREATMENT_EPOCH = datetime.datetime(1992, 1, 1)
ORDER_EPOCH = datetime.datetime(1995, 1, 1)


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _uid(key):
    return f"{key:08d}"


def write_clinical(directory, seed, customers, orders):
    rnd = random.Random(seed)
    out = pathlib.Path(directory)
    out.mkdir(parents=True, exist_ok=True)
    nation = [rnd.randrange(25) for _ in range(customers)]
    with open(out / "users.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["UID", "Name", "LastName", "Gender", "Unit", "Birthday", "Age", "Height",
                    "CreatedDate", "IsActive", "ClinicID", "loginId", "success"])
        for k in range(customers):
            w.writerow([_uid(k), f"Customer#{k:09d}", "X", "Male" if k % 2 == 0 else "Female",
                        1, _ts(USER_EPOCH), 18 + k % 55, 170,
                        _ts(USER_EPOCH + datetime.timedelta(seconds=k)), "True",
                        nation[k] % 3, "", "True"])
    with open(out / "weights.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["MasterUserID", "Weight", "BMI", "BodyFat", "BodyWater", "Bone",
                    "VisceralFat", "BMR", "MuscleMass", "CreatedDate", "UpdatedDate",
                    "IsActive", "IsDelete"])
        for o in range(orders):
            customer = rnd.randrange(customers)
            price = round(rnd.uniform(1000.0, 500000.0), 2)
            created = ORDER_EPOCH + datetime.timedelta(days=rnd.randrange(2400), seconds=o)
            w.writerow([_uid(customer), price / 1000.0, 25.0, 20.0, 55.0, 2.9, 9.7, 1500.0,
                        47.4, _ts(created), "" if o % 7 == 0 else _ts(created),
                        "True", "False"])
    with open(out / "treatments.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["MasterUserID", "TreatmentTypeID", "StartDate"])
        for k in range(customers):
            w.writerow([_uid(k), k % 3 + 1,
                        _ts(TREATMENT_EPOCH + datetime.timedelta(seconds=60 * k))])
