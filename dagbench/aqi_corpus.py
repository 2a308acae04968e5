"""Seeded AQI source corpus for the pipeline workload, and the check of the
NDS tables a pipeline run leaves behind.

The corpus has the shape of the program's own `AqiBench`: annual
`10_state_aqi_*.csv` files over ~1,000 measured dates, a 3,000-county
`uscounties.csv` and 51 states. Day 0 loads the annual files. Every later
day adds one delta file of 10% of the initial volume: half are updates to
keys from the most recent 30 days (a key may get several versions in one
file), half are new keys. The source directory of day k holds the annual
files and the deltas of days 1..k, so the CET/LSET window of day k keeps
only day k's delta.

The check does not use the engine. The expected `measurement_nds` content
of every day is derived here from the generated rows; the written tables
are read with DuckDB.
"""
import dataclasses
import datetime
import os
import random

import duckdb

STATES = 51
COUNTIES = 3000
PARAMS = ("Ozone", "PM2.5", "PM10", "CO", "NO2")
NUM_DAYS = 1000
ANNUAL_FILES = 3
# day k of the DAG runs at T0 + k days; annual rows were last updated before
# T0, the rows of day k's delta between the runs of days k-1 and k
T0 = datetime.datetime(2026, 1, 2)
ANNUAL_UPDATED = "2026-01-01 12:00:00"

AQI_HEADER = ("State Name,county Name,State Code,County Code,Date,AQI,Category,"
              "Defining Parameter,Defining Site,Number of Sites Reporting,"
              "Created,Last Updated\n")
COUNTY_HEADER = ("county,county_ascii,county_full,county_fips,state_id,"
                 "state_name,lat,lng,population\n")


def aqi_category(v):
    """The EPA banding the pipeline recomputes from `aqi_value`."""
    if 0 <= v <= 50:
        return "Good"
    if 51 <= v <= 100:
        return "Moderate"
    if 101 <= v <= 150:
        return "Unhealthy for Sensitive Groups"
    if 151 <= v <= 200:
        return "Unhealthy"
    if 201 <= v <= 300:
        return "Very Unhealthy"
    if v > 300:
        return "Hazardous"
    return "Unknown"


def _day(d):
    return (datetime.date(2021, 1, 1) + datetime.timedelta(days=d % NUM_DAYS)).isoformat()


def _county(i):
    state_idx = i % STATES
    return f"County{i:04d}", f"State{state_idx + 1:02d}", state_idx


def _link_all(files, to):
    os.makedirs(to)
    for f in files:
        os.link(f, os.path.join(to, os.path.basename(f)))


@dataclasses.dataclass
class Day:
    """One DAG run: the directory of its sources, the `measurement_nds` it
    must leave behind (business key (measured_date, parameter, site) ->
    (aqi_value, county, state)), and the sizes its ratios are taken over.
    """
    src: str
    expected: dict
    stats: dict


def generate(root, rows, seed, n_days):
    """Writes the sources of days 0..n_days under `root`; returns the Days."""
    rnd = random.Random(seed)
    files_dir = os.path.join(root, "files")
    os.makedirs(files_dir)
    n = rows - rows % ANNUAL_FILES
    per_day = max(1, n // NUM_DAYS)

    def key_parts(k):
        county, state, state_idx = _county(k % COUNTIES)
        return county, state, state_idx, PARAMS[k % len(PARAMS)], f"site-{k // len(PARAMS)}"

    def line(k, created, updated, aqi):
        county, state, state_idx, param, site = key_parts(k)
        return (f"{state},{county},{state_idx + 1},{k % 200},1999-01-01,{aqi},Bogus,"
                f"{param},{site},5,{created},{updated}\n")

    def write(name, parts):
        path = os.path.join(files_dir, name)
        with open(path, "w") as w:
            w.write("".join(parts))
        return path, sum(map(len, parts[1:]))

    expected = {}
    files = []
    annual_bytes = 0
    per_file = n // ANNUAL_FILES
    for f in range(ANNUAL_FILES):
        parts = [AQI_HEADER]
        for k in range(f * per_file, (f + 1) * per_file):
            aqi = rnd.randrange(350)
            created = _day(k // per_day)
            parts.append(line(k, f"{created} 10:00:00", ANNUAL_UPDATED, aqi))
            county, state, _, param, site = key_parts(k)
            expected[(created, param, site)] = (aqi, county, state)
        path, size = write(f"10_state_aqi_202{f}.csv", parts)
        files.append(path)
        annual_bytes += size
    parts = [COUNTY_HEADER]
    for i in range(COUNTIES):
        county, state, state_idx = _county(i)
        parts.append(f"{county},{county},{county} County,{10000 + i:05d},"
                     f"S{state_idx},{state},40.0,-100.0,50000\n")
    path, counties_bytes = write("uscounties.csv", parts)
    files.append(path)

    source_bytes = annual_bytes + counties_bytes
    src = os.path.join(root, "day_0")
    _link_all(files, src)
    days = [Day(src, dict(expected), {
        "rows_scanned": n, "window_bytes": annual_bytes,
        "source_bytes": source_bytes, "changed_rows": n})]

    # each delta: even rows update a recent key (its created day kept,
    # so the business key matches), odd rows add a new key created on
    # the delta's day
    delta_rows = n // 10
    recent = max(0, n - 30 * per_day)
    next_key = n
    scanned = n
    for d in range(1, n_days + 1):
        date = (T0 + datetime.timedelta(days=d - 1)).date().isoformat()
        versions, new_keys = {}, {}
        parts = [AQI_HEADER]
        for i in range(delta_rows):
            updated = f"{date} {rnd.randrange(24):02d}:{1 + rnd.randrange(59):02d}:00"
            aqi = rnd.randrange(350)
            if i % 2 == 0:
                k = recent + rnd.randrange(n - recent)
                parts.append(line(k, f"{_day(k // per_day)} 10:00:00", updated, aqi))
                versions.setdefault(k, []).append((updated, aqi))
            else:
                k, next_key = next_key, next_key + 1
                parts.append(line(k, f"{date} 10:00:00", updated, aqi))
                new_keys[k] = (date, aqi)
        path, size = write(f"10_state_aqi_2026_delta{d:02d}.csv", parts)
        files.append(path)
        # duplicate versions of a key: the survivor is the smallest
        # (created, last_updated, county_id_sk, aqi_value); created and
        # county are fixed by the key, so the earliest update wins and
        # equal update times fall to the smaller AQI
        for k, vs in versions.items():
            county, state, _, param, site = key_parts(k)
            expected[(_day(k // per_day), param, site)] = (min(vs)[1], county, state)
        for k, (created, aqi) in new_keys.items():
            county, state, _, param, site = key_parts(k)
            expected[(created, param, site)] = (aqi, county, state)
        source_bytes += size
        scanned += delta_rows
        src = os.path.join(root, f"day_{d}")
        _link_all(files, src)
        days.append(Day(src, dict(expected), {
            "rows_scanned": scanned, "window_bytes": size,
            "source_bytes": source_bytes, "changed_rows": len(versions) + len(new_keys)}))
    return days


COLUMNS = ("measured_date", "defining_parameter", "defining_site", "aqi_value",
           "aqi_category", "county_name", "state_name")
ROW = ("CAST(measured_date AS VARCHAR) AS measured_date, defining_parameter, defining_site, "
       "CAST(aqi_value AS BIGINT) AS aqi_value, aqi_category, county_name, state_name")
# order-independent digest: the sum of the rows' 64-bit hashes, mod 2^64
DIGEST = (f"SELECT count(*), CAST(coalesce(sum(hash({', '.join(COLUMNS)})::HUGEINT), 0) "
          "% 18446744073709551616 AS UBIGINT) FROM {rel}")


def check_warehouse(wh, expected, con=None):
    """Errors found in the NDS tables under `wh` against the `expected`
    content of `measurement_nds` (a Day's `expected`); empty when correct.
    """
    import pandas
    con = con or duckdb.connect()
    rows = [(d, p, s, aqi, aqi_category(aqi), county, state)
            for (d, p, s), (aqi, county, state) in expected.items()]
    con.register("expected_rows", pandas.DataFrame(rows, columns=COLUMNS))
    want = f"(SELECT {ROW} FROM expected_rows)"
    m, c, s = (f"read_parquet('{wh}/{t}/*.parquet')"
               for t in ("measurement_nds", "county_nds", "state_nds"))
    errors = []
    for rel, sk, count in ((s, "state_id_sk", STATES), (c, "county_id_sk", COUNTIES),
                           (m, "measurement_id_sk", len(rows))):
        n, distinct, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT {sk}), min({sk}), max({sk}) FROM {rel}").fetchone()
        if n != count:
            errors.append(f"{sk}: {n} rows, expected {count}")
        if not (distinct == n and (n == 0 or (lo == 1 and hi == n))):
            errors.append(f"{sk}: not dense and unique ({n} rows, {distinct} distinct, {lo}..{hi})")
    got = (f"(SELECT {ROW} FROM {m} m LEFT JOIN {c} c USING (county_id_sk) "
           f"LEFT JOIN (SELECT state_id_sk, state_name FROM {s}) s "
           f"ON c.state_id_sk = s.state_id_sk)")
    expected_digest = con.execute(DIGEST.format(rel=want)).fetchone()
    digest = con.execute(DIGEST.format(rel=got)).fetchone()
    if digest != expected_digest:
        missing = con.execute(f"SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got} LIMIT 3").fetchall()
        errors.append(f"measurement_nds digest {digest[1]:x} over {digest[0]} rows, expected "
                      f"{expected_digest[1]:x} over {expected_digest[0]}; missing rows: {missing}")
    con.unregister("expected_rows")
    return errors
