"""Seeded synthetic QCEW inputs and their expected results.

Writes, under one output directory:

* ``raw/qcew/<year>/pr-qcew-<year>-q<qtr>.txt``: 1060-char latin-1
  fixed-width records, one file per (year, qtr), laid out by the
  repository's ``graft.qcew.Layout`` (parsed from its source, so the
  generator follows the layout the program uses);
* ``wages/quarterly.csv`` and ``wages/yearly.csv``: wage series;
* ``dims/naics.csv`` and ``dims/invalid.csv``: the NAICS description
  dimension and the invalid-code list.

Dirty input is injected at fixed rates: unparseable numerics, blank
naics codes, CRLF line endings on whole files and a latin-1 ``ñ`` in
the name fields that precede every position-sensitive numeric field.

The expected NAICS4 aggregate, the expected null count of each cast
field, the expected resample means and the expected wage series are
computed from the same draw in plain Python, without Spark.
"""
import csv
import os
import random
import re

FIRST_YEAR = 2001
N_PARTITIONS = 85          # 2001q1 .. 2022q1, as in the reference lake
N_NAICS4 = 308             # distinct NAICS4 codes in the reference aggregate
SECTORS = ["11", "21", "22", "23", "31", "32", "33", "42", "44", "45", "48",
           "49", "51", "52", "53", "54", "55", "56", "61", "62", "71", "72",
           "81", "92"]
BAD_NUMERIC_RATE = 0.02
BLANK_NAICS_RATE = 0.01
ENYE_RATE = 0.05
CRLF_FILE_RATE = 0.10
SUPPRESS_AT_MOST = 4       # NaicsAgg.aggregate default: keep groups with > 4
LONG_CAST = ["first_month_employment", "second_month_employment",
             "third_month_employment", "total_wages", "taxable_wages"]
DOUBLE_CAST = ["latitude", "longitude"]
BAD_LONGS = ["12O4", "N/A", "-", "1,234", ""]
BAD_DOUBLES = ["N/A", "18,4", "--", ""]
RATES = {"fondo_contributions": 0.014, "medicare_contributions": 0.0145,
         "ssn_contributions": 0.062}

_FIELD_RE = re.compile(r'\("([a-z0-9_]+)",\s*(\d+),\s*(\d+)\)')


def read_layout(layout_scala):
    """(name, 1-based pos, len) triples from ``Layout.scala``."""
    with open(layout_scala, encoding="utf-8") as f:
        fields = [(n, int(p), int(l)) for n, p, l in _FIELD_RE.findall(f.read())]
    if len(fields) < 100:
        raise RuntimeError(f"could not read the QCEW layout from {layout_scala}")
    return fields


def partitions(n=N_PARTITIONS):
    out = []
    for i in range(n):
        out.append((FIRST_YEAR + i // 4, i % 4 + 1))
    return out


def _split(total, weights):
    """Largest-remainder split of ``total`` by ``weights``."""
    s = sum(weights)
    raw = [total * w / s for w in weights]
    counts = [int(x) for x in raw]
    rest = sorted(range(len(raw)), key=lambda i: counts[i] - raw[i])
    for i in rest[:total - sum(counts)]:
        counts[i] += 1
    return counts


class Record:
    __slots__ = ("year", "qtr", "naics", "emp", "emp_txt", "wages",
                 "wages_txt", "taxable", "taxable_txt", "lat", "lat_txt",
                 "lon", "lon_txt", "name", "trade", "ein")


def _draw_records(rng, n_records, codes, code_w, parts):
    # quarter sizes grow over time with lognormal jitter (skewed)
    weights = [(1.0 + 2.0 * i / (len(parts) - 1)) * rng.lognormvariate(0, 0.35)
               for i in range(len(parts))]
    sizes = _split(n_records, weights)
    recs = []
    for (year, qtr), size in zip(parts, sizes):
        for _ in range(size):
            r = Record()
            r.year, r.qtr = year, qtr
            c4 = rng.choices(codes, code_w)[0]
            r.naics = c4 + f"{rng.randrange(100):02d}"
            base = max(1, int(rng.lognormvariate(2.5, 1.2)))
            r.emp = [min(999999, max(0, base + rng.randint(-2, 2))) for _ in range(3)]
            r.emp_txt = [f"{e:06d}" for e in r.emp]
            r.wages = min(99_999_999_999, base * rng.randint(4_000, 16_000))
            r.wages_txt = f"{r.wages:011d}"
            r.taxable = r.wages * rng.randint(50, 100) // 100
            r.taxable_txt = f"{r.taxable:011d}"
            r.lat = round(17.9 + rng.random() * 0.6, 6)
            r.lat_txt = f"{r.lat:.6f}"
            r.lon = round(-67.3 + rng.random() * 1.7, 6)
            r.lon_txt = f"{r.lon:.6f}"
            r.ein = f"{rng.randrange(10**9):09d}"
            r.name = f"EMPRESA {rng.randrange(10**6)} INC"
            r.trade = f"COMERCIO {rng.randrange(10**5)}"
            recs.append(r)
    return recs


def _inject_dirt(rng, recs):
    n = len(recs)
    bad_fields = LONG_CAST + DOUBLE_CAST
    for i in rng.sample(range(n), round(n * BAD_NUMERIC_RATE)):
        r = recs[i]
        f = rng.choice(bad_fields)
        if f in DOUBLE_CAST:
            txt = rng.choice(BAD_DOUBLES)
            if f == "latitude":
                r.lat, r.lat_txt = None, txt
            else:
                r.lon, r.lon_txt = None, txt
        else:
            txt = rng.choice(BAD_LONGS)
            if f == "total_wages":
                r.wages, r.wages_txt = None, txt
            elif f == "taxable_wages":
                r.taxable, r.taxable_txt = None, txt
            else:
                k = LONG_CAST.index(f)
                r.emp[k], r.emp_txt[k] = None, txt
    for i in rng.sample(range(n), round(n * BLANK_NAICS_RATE)):
        recs[i].naics = ""
    for i in rng.sample(range(n), round(n * ENYE_RATE)):
        recs[i].name = recs[i].name.replace("EMPRESA", "COMPAÑIA")
        recs[i].trade = "Pequeño " + recs[i].trade


def _template(layout):
    """A record with every field filled by a plausible constant."""
    fixed = {
        "trans_code": "1", "state_fips": "72", "ui_addr_city": "SAN JUAN",
        "ui_addr_state": "PR", "phys_addr_city": "BAYAMON",
        "phys_addr_state": "PR", "mail_addr_state": "PR",
        "own_code": "5", "status_code": "1", "data_source": "A",
        "narrative_comment": "SIN COMENTARIOS",
        "qcew_contact_email": "contacto@example.com",
    }
    return {name: fixed.get(name, "0" * min(ln, 3)) for name, _, ln in layout}


def _line(layout, template, r):
    vals = dict(template)
    vals.update({
        "year": str(r.year), "qtr": str(r.qtr), "ein": r.ein,
        "leg_corp_name": r.name, "trade_name": r.trade,
        "naics_code": r.naics,
        "first_month_employment": r.emp_txt[0],
        "second_month_employment": r.emp_txt[1],
        "third_month_employment": r.emp_txt[2],
        "total_wages": r.wages_txt, "taxable_wages": r.taxable_txt,
        "latitude": r.lat_txt, "longitude": r.lon_txt,
    })
    return "".join(vals[name].ljust(ln)[:ln] for name, _, ln in layout)


def _write_raw(rng, out, layout, recs, parts):
    template = _template(layout)
    by_part = {}
    for r in recs:
        by_part.setdefault((r.year, r.qtr), []).append(r)
    crlf = set(rng.sample(range(len(parts)), round(len(parts) * CRLF_FILE_RATE)))
    total = 0
    for i, (year, qtr) in enumerate(parts):
        d = os.path.join(out, "raw", "qcew", str(year))
        os.makedirs(d, exist_ok=True)
        eol = "\r\n" if i in crlf else "\n"
        body = "".join(_line(layout, template, r) + eol
                       for r in by_part.get((year, qtr), []))
        data = body.encode("latin-1")
        with open(os.path.join(d, f"pr-qcew-{year}-q{qtr}.txt"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def _expected_agg(recs):
    """(year, qtr, naics4) -> total_wages (None when every value is
    null), mean total_employment over rows with all three months, and
    the row count ``dummy``; suppression is left to the checks."""
    groups = {}
    for r in recs:
        n4 = r.naics[:4]
        if n4 == "":
            continue
        g = groups.setdefault((r.year, r.qtr, n4), [None, 0.0, 0, 0])
        if r.wages is not None:
            g[0] = (g[0] or 0) + r.wages
        if None not in r.emp:
            g[1] += (r.emp[0] + r.emp[1] + r.emp[2]) / 3.0
            g[2] += 1
        g[3] += 1
    out = {}
    for k, (w, es, en, cnt) in groups.items():
        out[k] = {"total_wages": w, "total_employment": es / en if en else None,
                  "dummy": cnt}
    return out


def _expected_emp(recs):
    """(naics4, year, qtr) -> [sum of non-null monthly employment, count]."""
    out = {}
    for r in recs:
        n4 = r.naics[:4]
        if n4 == "":
            continue
        g = out.setdefault((n4, r.year, r.qtr), [0, 0])
        for e in r.emp:
            if e is not None:
                g[0] += e
                g[1] += 1
    return out


def _expected_nulls(recs):
    nulls = {f: 0 for f in ["year", "qtr"] + LONG_CAST + DOUBLE_CAST}
    for r in recs:
        for k, f in enumerate(LONG_CAST[:3]):
            nulls[f] += r.emp[k] is None
        nulls["total_wages"] += r.wages is None
        nulls["taxable_wages"] += r.taxable is None
        nulls["latitude"] += r.lat is None
        nulls["longitude"] += r.lon is None
    return nulls


def _write_wages(rng, out, codes, code_w):
    """Wage CSVs + NAICS dimension CSVs; returns what the checks need."""
    wd, dd = os.path.join(out, "wages"), os.path.join(out, "dims")
    os.makedirs(wd, exist_ok=True)
    os.makedirs(dd, exist_ok=True)
    described = sorted(rng.sample(codes, int(len(codes) * 0.9)))
    desc = {c: (f"Compañías {c}" if int(c) % 7 == 0 else f"Industria {c}")
            for c in described}
    invalid = sorted(rng.sample(described, 8))
    with open(os.path.join(dd, "naics.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["naics_code", "naics_desc"])
        w.writerows(sorted(desc.items()))
    with open(os.path.join(dd, "invalid.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["naics_data"])
        w.writerows([[c] for c in invalid])

    def rows(keys):
        out_rows = []
        for key in keys:
            for _ in range(60):
                naics = rng.choices(codes, code_w)[0] + f"{rng.randrange(100):02d}"
                u = rng.random()
                if u < 0.01:
                    naics = "0"
                wages = f"{rng.randint(10_000, 9_000_000) / 100:.2f}"
                if rng.random() < 0.02:
                    wages = ""
                out_rows.append(list(key) + [naics, wages])
        return out_rows

    quarterly = rows(partitions())
    yearly = rows(sorted({(y,) for y, _ in partitions()}))
    with open(os.path.join(wd, "quarterly.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["year", "qtr", "naics_code", "total_wages"])
        w.writerows(quarterly)
    with open(os.path.join(wd, "yearly.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["year", "naics_code", "total_wages"])
        w.writerows(yearly)
    return {"desc": desc, "invalid": invalid,
            "quarterly": quarterly, "yearly": yearly}


def generate(seed, out, layout_scala, n_records, n_partitions=N_PARTITIONS):
    """Write every input under ``out`` and return the expected results."""
    parts = partitions(n_partitions)
    rng = random.Random(seed)
    layout = read_layout(layout_scala)
    codes = sorted(rng.sample(
        [s + f"{d:02d}" for s in SECTORS for d in range(100)], N_NAICS4))
    order = codes[:]
    rng.shuffle(order)
    rank = {c: i + 1 for i, c in enumerate(order)}
    code_w = [1.0 / rank[c] for c in codes]      # Zipf-skewed industries
    recs = _draw_records(rng, n_records, codes, code_w, parts)
    _inject_dirt(rng, recs)
    raw_bytes = _write_raw(rng, out, layout, recs, parts)
    wages = _write_wages(rng, out, codes, code_w)
    return {
        "raw_glob": os.path.join(out, "raw", "qcew", "*", "*.txt"),
        "raw_bytes": raw_bytes,
        "records": len(recs),
        "codes": codes,
        "agg": _expected_agg(recs),
        "emp": _expected_emp(recs),
        "nulls": _expected_nulls(recs),
        "wages": wages,
    }
