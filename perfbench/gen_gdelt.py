"""Seeded generator for raw GDELT 2.0 event files plus their ground truth.

Writes headerless, tab-separated, 61-column event files named the way the
converter routes them:

  * daily   YYYYMMDD.export.CSV  -> flat Parquet dataset
  * monthly YYYYMM.csv           -> Hive tree partitioned by Year/MonthYear
  * yearly  YYYY.csv             -> Hive tree partitioned by Year

into DIR/raw, the daily and monthly files again into DIR/pipeline_raw (the
input of the `pipeline` command, see NOTES.md), and DIR/truth.json with the
counts every stage must reproduce. The data is deliberately hostile, in
known shares:

  * over-length lines (extra fields): dropped by both readers;
  * short lines (last two fields missing): the CSV reader behind `convert`
    drops them (DROPMALFORMED), the gdelt-tsv connector behind `pipeline`
    null-pads and keeps them, each as its own documentation states;
  * unparsable numerics ("n/a", "12x") in coerced columns: become null;
  * empty fields in Gdelt.defaultFilterColumns: rows the filter drops;
  * uneven rows per day and a Zipf-skewed EventRootCode.

Its one entry point is generate(seed, out, rows), called by run.py.
"""
import json
import os
import random

COLUMNS = [
    "GlobalEventID", "Day", "MonthYear", "Year", "FractionDate",
    "Actor1Code", "Actor1Name", "Actor1CountryCode", "Actor1KnownGroupCode",
    "Actor1EthnicCode", "Actor1Religion1Code", "Actor1Religion2Code",
    "Actor1Type1Code", "Actor1Type2Code", "Actor1Type3Code",
    "Actor2Code", "Actor2Name", "Actor2CountryCode", "Actor2KnownGroupCode",
    "Actor2EthnicCode", "Actor2Religion1Code", "Actor2Religion2Code",
    "Actor2Type1Code", "Actor2Type2Code", "Actor2Type3Code",
    "IsRootEvent", "EventCode", "EventBaseCode", "EventRootCode", "QuadClass",
    "GoldsteinScale", "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_FullName", "Actor1Geo_CountryCode",
    "Actor1Geo_ADM1Code", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor1Geo_FeatureID",
    "Actor2Geo_Type", "Actor2Geo_FullName", "Actor2Geo_CountryCode",
    "Actor2Geo_ADM1Code", "Actor2Geo_Lat", "Actor2Geo_Long",
    "Actor2Geo_FeatureID",
    "ActionGeo_Type", "ActionGeo_FullName", "ActionGeo_CountryCode",
    "ActionGeo_ADM1Code", "ActionGeo_Lat", "ActionGeo_Long",
    "ActionGeo_FeatureID",
    "DATEADDED", "SOURCEURL",
]
IDX = {c: i for i, c in enumerate(COLUMNS)}
FILTER_COLUMNS = [
    "GlobalEventID", "Actor1Name", "Actor2Name", "QuadClass",
    "Actor1Geo_Lat", "Actor1Geo_Long", "Actor2Geo_Lat", "Actor2Geo_Long",
    "ActionGeo_Lat", "ActionGeo_Long", "Day",
]
# coerced to double on ingest; Year/MonthYear/Day are never corrupted so the
# Hive partition keys stay valid and every row keeps its day
CORRUPTIBLE = [
    "FractionDate", "IsRootEvent", "QuadClass", "GoldsteinScale",
    "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor2Geo_Type", "Actor2Geo_Lat", "Actor2Geo_Long",
    "ActionGeo_Type", "ActionGeo_Lat", "ActionGeo_Long", "DATEADDED",
]
NULLABLE = [c for c in FILTER_COLUMNS if c != "Day"]

DAILY_DAYS = [20240100 + d for d in range(1, 15)]
MONTHS = [202310, 202311, 202312]
YEARS = [2021, 2022]
# the pipeline command's day range: all daily days plus two of the three
# monthly files, so the 202310 partition is pruned on the re-read
PIPELINE_RANGE = (20231101, 20240131)

SHARE_OVERLONG = 0.010
SHARE_SHORT = 0.010
SHARE_UNPARSABLE = 0.020
SHARE_NULL_FILTER = 0.050

# sample settings shared with the harness
SAMPLE_N = 500
PER_DAY = 40
PER_GROUP = 100
DSL = {"GoldsteinScale": {"op": "between", "min": -5, "max": 5},
       "QuadClass": [1, 2, 4]}

ROOT_CODES = ["%02d" % i for i in range(1, 21)]
NAMES = ["UNITED STATES", "CHINA", "RUSSIA", "POLICE", "GOVERNMENT",
         "PROTESTER", "MILITARY", "STUDENT", "COMPANY", "PRESIDENT",
         "UNITED NATIONS", "REBEL", "SCHOOL", "HOSPITAL", "FARMER"]
COUNTRIES = ["USA", "CHN", "RUS", "GBR", "FRA", "DEU", "IND", "BRA", "NGA"]


def days_of_month(ym):
    y, m = divmod(ym, 100)
    n = [31, 29 if y % 4 == 0 else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30,
         31][m - 1]
    return [ym * 100 + d for d in range(1, n + 1)]


def days_of_year(y):
    return [d for m in range(1, 13) for d in days_of_month(y * 100 + m)]


def parse_num(s):
    """Value of Spark's try_cast(string AS double), or None."""
    if s is None or s == "":
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return v


def make_row(rng, gid, day):
    root = rng.choices(ROOT_CODES, weights=[1.0 / (i + 1) ** 1.3
                                            for i in range(20)])[0]
    base = root + str(rng.randint(0, 9))
    code = base + str(rng.randint(0, 9))
    y, md = divmod(day, 10000)
    f = [""] * len(COLUMNS)
    f[IDX["GlobalEventID"]] = str(gid)
    f[IDX["Day"]] = str(day)
    f[IDX["MonthYear"]] = str(day // 100)
    f[IDX["Year"]] = str(y)
    f[IDX["FractionDate"]] = "%.4f" % (y + md / 1232.0)
    for a in ("Actor1", "Actor2"):
        cc = rng.choice(COUNTRIES)
        f[IDX[a + "Code"]] = cc + rng.choice(["GOV", "MIL", "CVL", "BUS"])
        f[IDX[a + "Name"]] = rng.choice(NAMES)
        f[IDX[a + "CountryCode"]] = cc
        f[IDX[a + "Type1Code"]] = rng.choice(["GOV", "MIL", "CVL", "BUS", ""])
    f[IDX["IsRootEvent"]] = str(rng.randint(0, 1))
    f[IDX["EventCode"]] = code
    f[IDX["EventBaseCode"]] = base
    f[IDX["EventRootCode"]] = root
    f[IDX["QuadClass"]] = str(rng.randint(1, 4))
    f[IDX["GoldsteinScale"]] = "%.1f" % (rng.randint(-100, 100) / 10.0)
    f[IDX["NumMentions"]] = str(rng.randint(1, 60))
    f[IDX["NumSources"]] = str(rng.randint(1, 9))
    f[IDX["NumArticles"]] = str(rng.randint(1, 60))
    f[IDX["AvgTone"]] = "%.6f" % rng.uniform(-12, 12)
    for g in ("Actor1Geo", "Actor2Geo", "ActionGeo"):
        cc = rng.choice(COUNTRIES)
        f[IDX[g + "_Type"]] = str(rng.randint(1, 5))
        f[IDX[g + "_FullName"]] = "City %d, %s" % (rng.randint(1, 400), cc)
        f[IDX[g + "_CountryCode"]] = cc
        f[IDX[g + "_ADM1Code"]] = cc + "%02d" % rng.randint(1, 40)
        f[IDX[g + "_Lat"]] = "%.4f" % rng.uniform(-60, 70)
        f[IDX[g + "_Long"]] = "%.4f" % rng.uniform(-170, 170)
        f[IDX[g + "_FeatureID"]] = str(rng.randint(1, 10 ** 6))
    f[IDX["DATEADDED"]] = "%d%06d" % (day, rng.randint(0, 235959))
    f[IDX["SOURCEURL"]] = "https://news%d.example.org/a/%d" % (
        rng.randint(1, 50), gid)
    return f


def generate(seed, out, rows):
    rng = random.Random(seed)
    raw = os.path.join(out, "raw")
    pipe_raw = os.path.join(out, "pipeline_raw")
    os.makedirs(raw, exist_ok=True)
    os.makedirs(pipe_raw, exist_ok=True)
    # file -> list of days; rows split 60/25/15 daily/monthly/yearly, and
    # unevenly across the days of each file
    plan = ([("%d.export.CSV" % d, [d], "daily") for d in DAILY_DAYS] +
            [("%d.csv" % m, days_of_month(m), "monthly") for m in MONTHS] +
            [("%d.csv" % y, days_of_year(y), "yearly") for y in YEARS])
    shares = {"daily": 0.60, "monthly": 0.25, "yearly": 0.15}
    counts = {k: sum(1 for p in plan if p[2] == k) for k in shares}
    weights = [rng.uniform(0.3, 1.7) for _ in plan]
    wsum = {k: sum(w for w, p in zip(weights, plan) if p[2] == k)
            for k in shares}
    truth = {
        "seed": seed, "lines": 0, "raw_bytes": 0, "overlong": 0, "short": 0,
        "unparsable": 0, "null_filter": 0,
        "rows": {"daily": 0, "monthly": 0, "yearly": 0},
        "filter_kept_daily": 0, "per_day_daily": {}, "dsl_per_stratum": {},
        "pipeline_range": list(PIPELINE_RANGE), "pipeline_kept": 0,
        "pipeline_per_day": {},
        "files": {"daily": counts["daily"], "monthly": counts["monthly"],
                  "yearly": counts["yearly"]},
        "sample": {"n": SAMPLE_N, "per_day": PER_DAY,
                   "per_group": PER_GROUP, "dsl": DSL},
    }
    gid = 100000000 + rng.randint(0, 10 ** 6) * 100
    for (name, days, kind), w in zip(plan, weights):
        n = max(1, int(round(rows * shares[kind] * w / wsum[kind])))
        lines = []
        for _ in range(n):
            gid += rng.randint(1, 3)
            day = rng.choice(days)
            f = make_row(rng, gid, day)
            u = rng.random()
            if u < SHARE_OVERLONG:
                f = f + ["extra"] * rng.randint(1, 3)
                truth["overlong"] += 1
            elif u < SHARE_OVERLONG + SHARE_SHORT:
                f = f[:-2]
                truth["short"] += 1
            else:
                v = rng.random()
                if v < SHARE_UNPARSABLE:
                    f[IDX[rng.choice(CORRUPTIBLE)]] = rng.choice(["n/a", "12x",
                                                                 "-", "1.2.3"])
                    truth["unparsable"] += 1
                elif v < SHARE_UNPARSABLE + SHARE_NULL_FILTER:
                    f[IDX[rng.choice(NULLABLE)]] = ""
                    truth["null_filter"] += 1
            lines.append("\t".join(f))
            truth["lines"] += 1
            if len(f) > len(COLUMNS):
                continue
            staged = len(f) == len(COLUMNS)
            if staged:
                truth["rows"][kind] += 1
            vals = f + [""] * (len(COLUMNS) - len(f))
            kept = all(
                vals[IDX[c]] != "" and
                (c in ("Actor1Name", "Actor2Name") or
                 parse_num(vals[IDX[c]]) is not None)
                for c in FILTER_COLUMNS)
            if not kept:
                continue
            dkey = str(day)
            if kind == "daily" and staged:
                truth["filter_kept_daily"] += 1
                truth["per_day_daily"][dkey] = (
                    truth["per_day_daily"].get(dkey, 0) + 1)
                gs = parse_num(vals[IDX["GoldsteinScale"]])
                qc = parse_num(vals[IDX["QuadClass"]])
                if gs is not None and -5 <= gs <= 5 and qc in (1.0, 2.0, 4.0):
                    r = vals[IDX["EventRootCode"]]
                    truth["dsl_per_stratum"][r] = (
                        truth["dsl_per_stratum"].get(r, 0) + 1)
            if kind != "yearly" and PIPELINE_RANGE[0] <= day <= PIPELINE_RANGE[1]:
                truth["pipeline_kept"] += 1
                truth["pipeline_per_day"][dkey] = (
                    truth["pipeline_per_day"].get(dkey, 0) + 1)
        data = ("\n".join(lines) + "\n").encode("utf-8")
        truth["raw_bytes"] += len(data)
        with open(os.path.join(raw, name), "wb") as fh:
            fh.write(data)
        if kind != "yearly":
            with open(os.path.join(pipe_raw, name), "wb") as fh:
                fh.write(data)
    truth["expect"] = {
        "indexed": min(SAMPLE_N, truth["filter_kept_daily"]),
        "daily": sum(min(PER_DAY, c) for c in truth["per_day_daily"].values()),
        "stratified": sum(min(PER_GROUP, c)
                          for c in truth["dsl_per_stratum"].values()),
        "pipeline": sum(min(PER_DAY, c)
                        for c in truth["pipeline_per_day"].values()),
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth

