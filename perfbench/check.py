"""Output checks: every operation's result against an independent reference.

The QCEW checks compare against the generator's expected values: sums,
counts and keys exactly, averages and derived doubles within
``REL_TOL``. The registry check compares a query's parquet result with
its DuckDB oracle the way the repository's correctness gate does: rows
sorted by every column, columns by name, cells by their string form.
Each check returns a list of problems; an empty list means correct.
"""
import os
import sys

from gen_qcew import RATES, SUPPRESS_AT_MOST

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from local_verify import load_sorted, norm_cell  # noqa: E402,F401 - the gate's comparison

REL_TOL = 1e-9   # stated tolerance on averages and double-valued columns


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _rows(table):
    cols = table["cols"]
    return [dict(zip(cols, r)) for r in table["rows"]]


def _agg_row_problems(got, exp):
    out = []
    for c in ("total_wages", "dummy"):
        if got[c] != exp[c]:
            out.append(f"{c} {got[c]!r} != {exp[c]!r}")
    if not _close(got["total_employment"], exp["total_employment"]):
        out.append(f"total_employment {got['total_employment']!r} != "
                   f"{exp['total_employment']!r}")
    for c, rate in RATES.items():
        want = None if exp["total_wages"] is None else exp["total_wages"] * rate
        if not _close(got[c], want):
            out.append(f"{c} {got[c]!r} != {want!r}")
    return out


def check_agg(table, agg, part=None, naics4=None):
    """A NaicsAgg.aggregate result against the expected groups.

    ``part`` = (year, qtr) and ``naics4`` restrict the expectation to
    the partition or industry the request selected.
    """
    want = {k: v for k, v in agg.items()
            if v["dummy"] > SUPPRESS_AT_MOST
            and (part is None or k[:2] == tuple(part))
            and (naics4 is None or k[2] == naics4)}
    problems, seen = [], set()
    for g in _rows(table):
        key = (g["year"], g["qtr"], g["naics4"])
        if key in seen:
            problems.append(f"duplicate group {key}")
            continue
        seen.add(key)
        if key not in want:
            problems.append(f"unexpected group {key}")
            continue
        problems += [f"{key}: {p}" for p in _agg_row_problems(g, want[key])]
    problems += [f"missing group {k}" for k in sorted(set(want) - seen)]
    return problems


def check_nulls(table, nulls, records):
    got = _rows(table)[0]
    problems = []
    if got["rows"] != records:
        problems.append(f"lake rows {got['rows']} != {records}")
    for f, n in nulls.items():
        if got.get(f) != n:
            problems.append(f"null {f}: {got.get(f)!r} != {n}")
    return problems


def check_series(table, agg, naics4):
    """Series.withDiffs over one industry's aggregate, ordered by quarter."""
    want = sorted((k, v) for k, v in agg.items()
                  if k[2] == naics4 and v["dummy"] > SUPPRESS_AT_MOST)
    got = sorted(_rows(table), key=lambda g: (g["year"], g["qtr"]))
    if len(got) != len(want):
        return [f"series rows {len(got)} != {len(want)}"]
    problems, prev = [], None
    for g, (k, v) in zip(got, want):
        if (g["year"], g["qtr"], g["naics4"]) != k:
            problems.append(f"series key {(g['year'], g['qtr'], g['naics4'])} != {k}")
            continue
        problems += [f"{k}: {p}" for p in _agg_row_problems(g, v)]
        tw = v["total_wages"]
        diff = None if prev is None or tw is None else tw - prev
        diff_p = None if diff is None or prev == 0 else diff / prev
        if g["total_wages_diff"] != diff:
            problems.append(f"{k}: diff {g['total_wages_diff']!r} != {diff!r}")
        if not _close(g["total_wages_diff_p"], diff_p):
            problems.append(f"{k}: diff_p {g['total_wages_diff_p']!r} != {diff_p!r}")
        prev = tw
    return problems


def check_resample(tables, emp, naics4):
    """Resample.monthly -> quarterlyMean and yearlyMean for one industry."""
    qwant, ywant = {}, {}
    for (n4, year, qtr), (s, n) in emp.items():
        if n4 != naics4:
            continue
        qwant[(year, qtr)] = (s, n)
        ys = ywant.setdefault(year, [0, 0])
        ys[0] += s
        ys[1] += n
    problems = []
    q = {(g["year"], g["qtr"]): g for g in _rows(tables["quarterly"])}
    if set(q) != set(qwant):
        problems.append(f"quarters {sorted(set(q) ^ set(qwant))[:5]} differ")
    for k in set(q) & set(qwant):
        s, n = qwant[k]
        want = s / n if n else None
        if not _close(q[k]["employment"], want):
            problems.append(f"quarter {k}: {q[k]['employment']!r} != {want!r}")
        date = f"{k[0]:04d}-{(k[1] - 1) * 3 + 1:02d}-01"
        if q[k]["date"] != date:
            problems.append(f"quarter {k}: date {q[k]['date']!r} != {date}")
    y = {g["year"]: g for g in _rows(tables["yearly"])}
    if set(y) != set(ywant):
        problems.append(f"years {sorted(set(y) ^ set(ywant))[:5]} differ")
    for k in set(y) & set(ywant):
        s, n = ywant[k]
        want = s / n if n else None
        if not _close(y[k]["employment"], want):
            problems.append(f"year {k}: {y[k]['employment']!r} != {want!r}")
        if y[k]["date"] != f"{k:04d}-01-01":
            problems.append(f"year {k}: date {y[k]['date']!r}")
    return problems


def expected_wages(wages, frame, naics4):
    """Reference result of Wages.enrich + filterWages for one industry."""
    desc, invalid = wages["desc"], set(wages["invalid"])
    label = f"(N{naics4}) {desc[naics4]}"
    series, picks = {}, set()
    for row in wages[frame]:
        if frame == "quarterly":
            year, qtr, naics, measure = row
            period = f"{int(year)}-q{int(qtr)}"
        else:
            year, naics, measure = row
            period = int(year)
        n4 = naics[:4]
        if n4 == "0" or n4 in invalid or measure.strip() == "":
            continue
        lab = f"(N{n4}) {desc[n4]}" if n4 in desc else None
        picks.add(lab)
        if lab == label:
            series[period] = series.get(period, 0.0) + float(measure)
    picklist = ([None] if None in picks else []) + sorted(p for p in picks if p)
    return label, sorted(series.items()), picklist


def check_wages(tables, wages, frame, naics4):
    _, series, picklist = expected_wages(wages, frame, naics4)
    problems = []
    got = [(g["time_period"], g["nominas"]) for g in _rows(tables["series"])]
    if [p for p, _ in got] != [p for p, _ in series]:
        problems.append(f"series periods {[p for p, _ in got][:4]} != "
                        f"{[p for p, _ in series][:4]}")
    else:
        problems += [f"period {p}: {a!r} != {b!r}"
                     for (p, a), (_, b) in zip(got, series) if not _close(a, b)]
    labels = [g["naics_desc"] for g in _rows(tables["picklist"])]
    if labels != picklist:
        problems.append(f"picklist {len(labels)} labels != {len(picklist)}")
    return problems


# ---- registry: the repository's correctness-gate comparison ----------
# ``norm_cell`` and ``load_sorted`` are the gate emulator's own
# (tools/local_verify.py): columns sorted by name, rows by every cell's
# string form, fetched through arrow so DuckDB HUGEINT sums read as
# decimals, the form the gate compares.

def compare_result(got, want):
    """Compare two ``load_sorted`` results as the gate does: column names
    case-insensitively, then every cell by its string form, so a float
    that differs at all is a mismatch."""
    gcols, grows = got
    wcols, wrows = want
    if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
        return [f"schema {gcols} != {wcols}"]
    if len(grows) != len(wrows):
        return [f"rows {len(grows)} != {len(wrows)}"]
    for gr, wr in zip(grows, wrows):
        for a, b in zip(gr, wr):
            if norm_cell(a) != norm_cell(b):
                return [f"value {a!r} != {b!r}"]
    return []
