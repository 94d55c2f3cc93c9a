"""Inputs and result checks for the benchmark.

* `parquet_inputs` describes a checked-in dataset (files, row groups, bytes,
  rows per table).
* `generate` writes reference-shaped lake inputs (FIXTURES.md B1-B8) from a
  seed, with the reference's quirks at fixed, assumed shares: exact duplicate
  rows, blank metrics, null `depdate`, visitor codes missing from the lookups
  and FY17 rows that fail the worksite-state alignment gate.
* `check` verifies a lake build against an independent DuckDB rendering of
  the same pipeline over the same inputs: per-table row counts, a content
  digest per table, the partition layout, and the id structure.
"""
import csv
import glob
import json
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes and shares of the generated inputs. Only the code-table size and the
# asylum extract's years are taken from the reference (SURVEY.md section 6:
# 289 country-code lines; 10 years per asylum workbook). Everything else is
# assumed, not measured, because the reference publishes no figures: the row
# counts, the share of invalid codes, uniform draws, every quirk share, and
# the number of countries the records use.
# Climate and visitor records are split into `nfiles` files each (at least
# one per core), so their scans run one task per file. The asylum CSV and the
# two H-1B sources are single files.
CLIMATE_ROWS = 12_000
VISITOR_ROWS = 24_000
KAGGLE_ROWS = 15_000
FY17_ROWS = 9_000
COUNTRY_CODES = 289       # i94cit/i94res code-table size (reference)
INVALID_CODE_SHARE = 0.1  # code-table entries with no country (valid = false)
ASYLUM_YEARS = range(2009, 2019)  # 10 years (reference)
DUP_SHARE = 0.02          # exact duplicate rows, removed by dropDuplicates
BLANK_SHARE = 0.08        # blank temperature / asylum metric fields
NULL_DEPDATE_SHARE = 0.05  # null depdate -> 1960-01-01 expiry
UNKNOWN_CODE_SHARE = 0.03  # visitor rows whose country code is not in the lookup
MISALIGNED_SHARE = 0.04    # FY17 rows with a non-state WORKSITE_STATE, gated out
# Countries the climate, asylum and visitor records draw from. It sets the
# partition count of three outputs and so the lake's file count (one file per
# partition value per writing task). With all 261 valid countries a pass
# writes about 4,900 files, and one run takes about 190 s on 4 cores: more
# than a run may take. 20 countries give about 870 files and a 90 s run.
RECORD_COUNTRIES = 20

# The i94 code table: codes 101.. with a country name, or none when invalid.
CODES = [(101 + i, None if i % round(1 / INVALID_CODE_SHARE) == 9 else f"Country {101 + i}")
         for i in range(COUNTRY_CODES)]
VALID_CODES = [k for k, c in CODES if c][:RECORD_COUNTRIES]
COUNTRIES = [c for _, c in CODES if c][:RECORD_COUNTRIES]
STATES = {
    "alabama": "AL", "alaska": "AK", "arizona": "AZ", "arkansas": "AR",
    "california": "CA", "colorado": "CO", "connecticut": "CT", "delaware": "DE",
    "district of columbia": "DC", "florida": "FL", "georgia": "GA", "hawaii": "HI",
    "idaho": "ID", "illinois": "IL", "indiana": "IN", "iowa": "IA", "kansas": "KS",
    "kentucky": "KY", "louisiana": "LA", "maine": "ME", "maryland": "MD",
    "massachusetts": "MA", "michigan": "MI", "minnesota": "MN", "mississippi": "MS",
    "missouri": "MO", "montana": "MT", "nebraska": "NE", "nevada": "NV",
    "new hampshire": "NH", "new jersey": "NJ", "new mexico": "NM", "new york": "NY",
    "north carolina": "NC", "north dakota": "ND", "ohio": "OH", "oklahoma": "OK",
    "oregon": "OR", "pennsylvania": "PA", "rhode island": "RI",
    "south carolina": "SC", "south dakota": "SD", "tennessee": "TN", "texas": "TX",
    "utah": "UT", "vermont": "VT", "virginia": "VA", "washington": "WA",
    "west virginia": "WV", "wisconsin": "WI", "wyoming": "WY"}
PORTS = [("NYC", "New York", "NY"), ("SFR", "San Francisco", "CA"),
         ("LOS", "Los Angeles", "CA"), ("MIA", "Miami", "FL"), ("CHI", "Chicago", "IL"),
         ("HOU", "Houston", "TX"), ("SEA", "Seattle", "WA"), ("BOS", "Boston", "MA"),
         ("ATL", "Atlanta", "GA"), ("TOR", "Toronto", "Canada"), ("XXX", None, None)]
VISATYPES = ["B1", "B2", "F1", "WT", "WB", "E2", "CP"]
CITIES = ["SAN FRANCISCO", "AUSTIN", "NEW YORK", "SEATTLE", "CHICAGO", "BOSTON",
          "RENO", "DENVER", "ATLANTA", "PHOENIX", "DALLAS", "PORTLAND", "MIAMI"]
EMPLOYERS = [f"EMPLOYER {i:04d} INC" for i in range(2000)]
STATUSES = ["CERTIFIED", "DENIED", "WITHDRAWN", "CERTIFIED-WITHDRAWN"]

# table -> (output dir, partition columns, content columns excluding ids)
TABLES = {
    "country": ("temperatures", ["country"],
                ["avg_temperature", "avg_temperature_uncertainty", "country", "year", "month",
                 "day", "weekday"]),
    "asylum": ("asylum", ["country"],
               ["country", "num_arrivals", "num_accepted_affirmitavely",
                "num_accepted_defensively"]),
    "visitor": ("visitors", ["country", "visa_category"],
                ["id", "visa_category", "visa_type", "port_of_entry_municipality",
                 "port_of_entry_region", "country", "visiting_state"]),
    "worker": ("workers", ["visa_type"],
               ["case_status", "visa_type", "employer_name", "employer_city",
                "employer_state", "worksite_city", "worksite_state"]),
    "time": ("time", ["immigration_type", "arrival_year"],
             ["immigration_type", "arrival_year", "arrival_month", "arrival_day",
              "arrival_weekday", "expiry_year", "expiry_month", "expiry_day",
              "expiry_weekday"]),
    "fact": ("immigration_facts", ["immigration_type"], ["country", "immigration_type"]),
}


def parquet_inputs(data_dir):
    tables = {}
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        tables[os.path.basename(p)[:-8]] = {
            "files": 1, "row_groups": md.num_row_groups, "bytes": os.path.getsize(p),
            "rows": md.num_rows}
    return {"tables": tables, "rows": sum(t["rows"] for t in tables.values()),
            "bytes": sum(t["bytes"] for t in tables.values())}


def _with_dups(rng, rows):
    rows = rows + [rng.choice(rows) for _ in range(int(len(rows) * DUP_SHARE))]
    rng.shuffle(rows)
    return rows


def _write_csv(path_fmt, header, rows, nfiles=1):
    os.makedirs(os.path.dirname(path_fmt), exist_ok=True)
    for i in range(nfiles):
        with open(path_fmt.format(i), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows[i::nfiles])


def _blank(rng, v):
    return "" if rng.random() < BLANK_SHARE else v


def generate(root, seed, nfiles):
    """Write the eight reference-shaped sources under `root`; returns their stats."""
    rng = random.Random(seed)
    # B2 climate: monthly country temperatures, fractional strings, some blank
    climate = []
    for _ in range(CLIMATE_ROWS):
        dt = f"{rng.randint(1990, 2013)}-{rng.randint(1, 12):02d}-01"
        climate.append((dt, _blank(rng, f"{rng.uniform(-30, 40):.3f}"),
                        _blank(rng, f"{rng.uniform(0, 3):.3f}"), rng.choice(COUNTRIES)))
    _write_csv(os.path.join(root, "climate_data", "climate_{}.csv"),
               ["dt", "AverageTemperature", "AverageTemperatureUncertainty", "Country"],
               _with_dups(rng, climate), nfiles)
    # B1 asylum: one file, pre-summed per (country, year)
    asylum = [(c, str(y), _blank(rng, str(rng.randint(0, 50000))),
               _blank(rng, str(rng.randint(0, 9000))), _blank(rng, str(rng.randint(0, 9000))))
              for c in COUNTRIES for y in ASYLUM_YEARS]
    _write_csv(os.path.join(root, "refugee_and_migrant_data", "asylum_{}.csv"),
               ["country", "year", "num_arrivals", "num_accepted_affirmitavely",
                "num_accepted_defensively"], _with_dups(rng, asylum), 1)
    # B3-B5 lookups
    vdir = os.path.join(root, "i94_visitor_data")
    os.makedirs(vdir, exist_ok=True)
    codes = [{"code": k, "region": c, "valid": c is not None} for k, c in CODES]
    with open(os.path.join(vdir, "i94cit_and_i94res.json"), "w") as f:
        json.dump(codes, f)
    with open(os.path.join(vdir, "i94port.json"), "w") as f:
        json.dump([{"code": c, "municipality": m, "region": r} for c, m, r in PORTS], f)
    with open(os.path.join(vdir, "i94visa.json"), "w") as f:
        json.dump([{"code": 1, "type": "Business"}, {"code": 2, "type": "Pleasure"},
                   {"code": 3, "type": "Student"}], f)
    # B6 SAS visitor records: doubles, nullable depdate, unknown codes
    visitors = []
    for i in range(VISITOR_ROWS):
        arr = rng.randint(20089, 20819)  # 2015-01-01 .. 2016-12-31 in SAS days
        res = 900 + rng.randint(0, 9) if rng.random() < UNKNOWN_CODE_SHARE \
            else rng.choice(VALID_CODES)
        dep = None if rng.random() < NULL_DEPDATE_SHARE else float(arr + rng.randint(1, 180))
        visitors.append((float(i + 1), float(res), rng.choice(PORTS)[0], float(arr),
                         float(rng.randint(1, 3)), rng.choice(list(STATES.values())), dep,
                         rng.choice(VISATYPES)))
    visitors = _with_dups(rng, visitors)
    sdir = os.path.join(vdir, "sas_data")
    os.makedirs(sdir)
    names = ["cicid", "i94res", "i94port", "arrdate", "i94visa", "i94addr", "depdate",
             "visatype"]
    for k in range(nfiles):
        part = visitors[k::nfiles]
        cols = {n: [r[j] for r in part] for j, n in enumerate(names)}
        pq.write_table(pa.table(cols), os.path.join(sdir, f"part-{k:04d}.parquet"))
    # B7 kaggle H-1B: "CITY, STATE NAME" worksites
    states = sorted(STATES)
    kaggle = [(rng.choice(STATUSES), rng.choice(EMPLOYERS), str(rng.randint(2014, 2016)),
               f"{rng.choice(CITIES)}, {rng.choice(states).upper()}")
              for _ in range(KAGGLE_ROWS)]
    ldir = os.path.join(root, "legal_immigrant_data")
    _write_csv(os.path.join(ldir, "h1b_kaggle.csv"),
               ["CASE_STATUS", "EMPLOYER_NAME", "YEAR", "WORKSITE"],
               _with_dups(rng, kaggle), 1)
    # B8 FY17 disclosure: 2-letter states, some rows misaligned
    def fy17_row():
        start = f"2017-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        end = f"{rng.randint(2018, 2020)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        wstate = "NOT_A_STATE" if rng.random() < MISALIGNED_SHARE \
            else rng.choice(list(STATES.values()))
        return (rng.choice(STATUSES), rng.choice(["H-1B", "E-3", "H-1B1"]), start, end,
                rng.choice(EMPLOYERS), rng.choice(CITIES), rng.choice(list(STATES.values())),
                "MISALIGNED ROW" if wstate == "NOT_A_STATE" else rng.choice(CITIES), wstate)
    fy17 = [fy17_row() for _ in range(FY17_ROWS)]
    _write_csv(os.path.join(ldir, "H-1B_Disclosure_Data_FY17.csv"),
               ["CASE_STATUS", "VISA_CLASS", "EMPLOYMENT_START_DATE", "EMPLOYMENT_END_DATE",
                "EMPLOYER_NAME", "EMPLOYER_CITY", "EMPLOYER_STATE", "WORKSITE_CITY",
                "WORKSITE_STATE"], _with_dups(rng, fy17), 1)
    return _describe(root)


SOURCES = {
    "climate": "climate_data/*.csv",
    "asylum": "refugee_and_migrant_data/*.csv",
    "visitors": "i94_visitor_data/sas_data/*.parquet",
    "lookups": "i94_visitor_data/*.json",
    "h1b_kaggle": "legal_immigrant_data/h1b_kaggle.csv",
    "h1b_fy17": "legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv",
}


def _describe(root):
    tables = {}
    for name, pattern in SOURCES.items():
        files = sorted(glob.glob(os.path.join(root, pattern)))
        rows = rgs = 0
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(f).metadata
                rows += md.num_rows
                rgs += md.num_row_groups
            elif f.endswith(".json"):
                with open(f) as fh:
                    rows += len(json.load(fh))
            else:
                with open(f) as fh:
                    rows += sum(1 for _ in fh) - 1
        tables[name] = {"files": len(files), "row_groups": rgs or None,
                        "bytes": sum(os.path.getsize(f) for f in files), "rows": rows}
    return {"tables": tables, "rows": sum(t["rows"] for t in tables.values()),
            "bytes": sum(t["bytes"] for t in tables.values())}


def _clean(x):
    return f"replace(lower({x}), ' ', '_')"


def _parts(d, prefix, clean_weekday=True):
    wd = f"strftime({d}, '%a')"
    return (f"year({d}) {prefix}_year, month({d}) {prefix}_month, day({d}) {prefix}_day, "
            f"{_clean(wd) if clean_weekday else wd} {prefix}_weekday")


def _expected_sql(root):
    """The lake's six outputs, written as DuckDB SQL over the raw inputs."""
    valid = ", ".join(f"'{s}'" for s in STATES.values() if s != "DC")
    abbrev = ", ".join(f"'{k}': '{v}'" for k, v in STATES.items())
    csv_ = "read_csv('{}', header=true, all_varchar=true)"
    nulls = ("NULL::INTEGER {p}_month, NULL::INTEGER {p}_day, NULL::VARCHAR {p}_weekday")
    return f"""
    CREATE TEMP TABLE climate AS
      SELECT DISTINCT dt, AverageTemperature a, AverageTemperatureUncertainty u, Country c
      FROM {csv_.format(root + '/climate_data/*.csv')};
    CREATE TEMP TABLE x_country AS
      SELECT CAST(trunc(TRY_CAST(a AS DOUBLE)) AS INTEGER) avg_temperature,
             CAST(trunc(TRY_CAST(u AS DOUBLE)) AS INTEGER) avg_temperature_uncertainty,
             {_clean('c')} country, year(d) "year", month(d) "month", day(d) "day",
             strftime(d, '%a') weekday
      FROM (SELECT *, CAST(dt AS DATE) d FROM climate);
    CREATE TEMP TABLE x_asylum AS
      SELECT {_clean('country')} country, TRY_CAST("year" AS INTEGER) "year",
             TRY_CAST(num_arrivals AS INTEGER) num_arrivals,
             TRY_CAST(num_accepted_affirmitavely AS INTEGER) num_accepted_affirmitavely,
             TRY_CAST(num_accepted_defensively AS INTEGER) num_accepted_defensively
      FROM (SELECT DISTINCT * FROM {csv_.format(root + '/refugee_and_migrant_data/*.csv')});
    CREATE TEMP TABLE x_visitor_full AS
      SELECT CAST(s.cicid AS INTEGER) id, {_clean('v.type')} visa_category,
             s.visatype visa_type, {_clean('p.municipality')} port_of_entry_municipality,
             p.region port_of_entry_region, {_clean('r.region')} country,
             s.i94addr visiting_state,
             {_parts('da', 'arrival')}, {_parts('dd', 'expiry')}
      FROM (SELECT *, DATE '1960-01-01' + coalesce(CAST(arrdate AS INTEGER), 0) da,
                      DATE '1960-01-01' + coalesce(CAST(depdate AS INTEGER), 0) dd
            FROM (SELECT DISTINCT * FROM read_parquet('{root}/i94_visitor_data/sas_data/*.parquet'))) s
      JOIN read_json('{root}/i94_visitor_data/i94cit_and_i94res.json') r
        ON CAST(s.i94res AS INTEGER) = r.code
      JOIN read_json('{root}/i94_visitor_data/i94port.json') p ON s.i94port = p.code
      JOIN read_json('{root}/i94_visitor_data/i94visa.json') v
        ON CAST(s.i94visa AS INTEGER) = v.code;
    CREATE TEMP TABLE x_worker_full AS
      SELECT DISTINCT * FROM (
        SELECT CASE_STATUS cs, EMPLOYER_NAME en, 'H-1B' vc, NULL::VARCHAR ec, NULL::VARCHAR es,
               split_part(WORKSITE, ',', 1) wc,
               coalesce(map_extract(MAP {{{abbrev}}}, ltrim(lower(split_part(WORKSITE, ',', 2))))[1],
                        split_part(WORKSITE, ',', 2)) ws,
               TRY_CAST(YEAR AS INTEGER) arrival_year, {nulls.format(p='arrival')},
               NULL::INTEGER expiry_year, {nulls.format(p='expiry')}
        FROM (SELECT DISTINCT * FROM {csv_.format(root + '/legal_immigrant_data/h1b_kaggle.csv')})
        UNION ALL
        SELECT cs, en, vc, ec, es, wc, ws, {_parts('ds', 'arrival')}, {_parts('de', 'expiry')}
        FROM (SELECT DISTINCT CASE_STATUS cs, VISA_CLASS vc, EMPLOYER_NAME en,
                     EMPLOYER_CITY ec, EMPLOYER_STATE es, WORKSITE_CITY wc, WORKSITE_STATE ws,
                     CAST(EMPLOYMENT_START_DATE AS DATE) ds, CAST(EMPLOYMENT_END_DATE AS DATE) de
              FROM {csv_.format(root + '/legal_immigrant_data/H-1B_Disclosure_Data_FY17.csv')})
        WHERE length(ws) = 2 AND ws IN ({valid}));
    CREATE TEMP TABLE x_worker AS
      SELECT {_clean('cs')} case_status, vc visa_type, {_clean('en')} employer_name,
             ec employer_city, es employer_state, {_clean('wc')} worksite_city,
             ws worksite_state, arrival_year, arrival_month, arrival_day, arrival_weekday,
             expiry_year, expiry_month, expiry_day, expiry_weekday
      FROM x_worker_full;
    CREATE TEMP TABLE x_visitor AS SELECT * FROM x_visitor_full;
    CREATE TEMP TABLE x_time AS
      SELECT 'asylum' immigration_type, "year" arrival_year, {nulls.format(p='arrival')},
             NULL::INTEGER expiry_year, {nulls.format(p='expiry')} FROM x_asylum
      UNION ALL
      SELECT 'visitor', arrival_year, arrival_month, arrival_day, arrival_weekday,
             expiry_year, expiry_month, expiry_day, expiry_weekday FROM x_visitor
      UNION ALL
      SELECT 'worker', arrival_year, arrival_month, arrival_day, arrival_weekday,
             expiry_year, expiry_month, expiry_day, expiry_weekday FROM x_worker;
    CREATE TEMP TABLE x_fact AS
      SELECT country, 'asylum' immigration_type FROM x_asylum
      UNION ALL SELECT country, 'visitor' FROM x_visitor
      UNION ALL SELECT 'Unknown', 'worker' FROM x_worker;
    """


def _digest_sql(source, cols):
    body = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '<null>')" for c in cols)
    return f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {body}))), 0) FROM {source}"


def _layout(table_dir):
    parts = set()
    for d, _, files in os.walk(table_dir):
        if any(f.endswith(".parquet") for f in files):
            parts.add(os.path.relpath(d, table_dir))
    return parts


def check(res, root):
    """Failures of every lake pass the harness ran (empty list when all are right)."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(root), 'duckdb_tmp')}'")
    con.execute(_expected_sql(root))
    want = {}
    for key, (_, pcols, cols) in TABLES.items():
        n, h = con.execute(_digest_sql(f"x_{key}", cols)).fetchone()
        layout = {"/".join(f"{c}={v}" for c, v in zip(pcols, row)) for row in
                  con.execute(f"SELECT DISTINCT {', '.join(pcols)} FROM x_{key}").fetchall()}
        want[key] = (n, h, layout)
    bad = []
    by_pass = {r["pass"]: r for r in res["queries"]}
    for p in res["passes"]:
        rec = by_pass.get(p["pass"], {})
        if "error" in rec or "counts" not in rec:
            bad.append({"pass": p["pass"], "error": rec.get("error", "no result")})
            continue
        for problem in _check_output(con, p["out"], rec["counts"], want):
            bad.append({"pass": p["pass"], "error": problem})
    return bad


def _check_output(con, out, counts, want):
    problems = []
    ids = {}
    for key, (dirname, pcols, cols) in TABLES.items():
        n, h, layout = want[key]
        tdir = os.path.join(out, dirname)
        src = f"read_parquet('{tdir}/**/*.parquet', hive_partitioning=true)"
        got_n, got_h = con.execute(_digest_sql(src, cols)).fetchone()
        if counts.get(key) != n or got_n != n:
            problems.append(f"{key}: rows {got_n} written, {counts.get(key)} reported, {n} expected")
        elif got_h != h:
            problems.append(f"{key}: content digest differs")
        got_layout = _layout(tdir)
        if got_layout != layout:
            problems.append(f"{key}: partition layout differs "
                            f"({len(got_layout)} dirs, {len(layout)} expected)")
        if key != "country":
            ids[key] = con.execute(
                _digest_sql(src, ["immigration_type", "id"] if key in ("time", "fact")
                            else ["id"])).fetchone()
    # ids: dense 0..n-1 for asylum and worker, time ids = dimension ids, time_id = id
    for key in ("asylum", "worker"):
        src = f"read_parquet('{os.path.join(out, TABLES[key][0])}/**/*.parquet', hive_partitioning=true)"
        lo, hi, nd, n = con.execute(f"SELECT min(id), max(id), count(DISTINCT id), count(*) FROM {src}").fetchone()
        if n and (lo != 0 or hi != n - 1 or nd != n):
            problems.append(f"{key}: ids are not dense 0..{n - 1}")
    fact = f"read_parquet('{os.path.join(out, 'immigration_facts')}/**/*.parquet', hive_partitioning=true)"
    if con.execute(f"SELECT count(*) FROM {fact} WHERE time_id <> id").fetchone()[0]:
        problems.append("fact: time_id differs from id")
    if ids.get("time") != ids.get("fact"):
        problems.append("time and fact ids differ")
    return problems
