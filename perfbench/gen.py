"""Seeded covid CSV generator with planted faults and exact expectations.

Every file has the reference's three columns (`entity,Day,
total_confirmed_deaths`) and carries each fault class at a fixed rate.
`expect` replays, row by row, what the program's gates do with each raw
cell, so each generated file comes with the counts every
`covidCsvRules` rule, `covidPipeline`, `eltPipeline` and the streaming
ingest must produce on it.
"""
import datetime
import functools
import math
import random
import re

HEADER = "entity,Day,total_confirmed_deaths"

ENTITIES = (
    "Afghanistan", "Albania", "Algeria", "Andorra", "Angola", "Argentina",
    "Armenia", "Australia", "Austria", "Bahrain", "Belgium", "Bolivia",
    "Brazil", "Canada", "Chile", "Colombia", "Denmark", "Egypt", "Finland",
    "France", "Germany", "Ghana", "Greece", "India", "Indonesia", "Ireland",
    "Italy", "Japan", "Kenya", "Mexico", "Nepal", "Norway", "Peru", "Poland",
    "Portugal", "Spain", "Sweden", "Turkey", "Uganda", "Vietnam")

# fault class -> share of rows; every class is planted at least once per file
FAULTS = (
    ("blank_entity", 0.004), ("blank_day", 0.004), ("blank_deaths", 0.004),
    ("day_unpadded", 0.003), ("day_us_order", 0.003), ("day_month_13", 0.003),
    ("deaths_abc", 0.004), ("deaths_fraction", 0.010),
    ("deaths_negative", 0.004), ("deaths_nan", 0.002),
    ("deaths_infinity", 0.002), ("entity_padded", 0.010),
    ("duplicate", 0.010))

RULES = ("required_entity", "required_Day", "required_total_confirmed_deaths",
         "numeric_total_confirmed_deaths", "date_Day")

_DAY0 = datetime.date(2020, 1, 22)
_ISO_DAY = re.compile(r"\d{4}-\d{2}-\d{2}")
_NUMBER = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
_DAYS = tuple((_DAY0 + datetime.timedelta(days=i)).isoformat()
              for i in range(900))
_DEATHS = tuple(str(i) for i in range(20000))


def _plant(kind, entity, day, deaths, rng):
    y, m, d = day.split("-")
    if kind == "blank_entity":
        entity = ""
    elif kind == "blank_day":
        day = ""
    elif kind == "blank_deaths":
        deaths = ""
    elif kind == "day_unpadded":            # 2020-3-28
        day = f"{y}-{int(m)}-{int(d)}"
    elif kind == "day_us_order":            # 03-29-2020
        day = f"{m}-{d}-{y}"
    elif kind == "day_month_13":            # 2020-13-29
        day = f"{y}-13-{d}"
    elif kind == "deaths_abc":
        deaths = "abc"
    elif kind == "deaths_fraction":
        deaths = f"{rng.randrange(20000)}.{rng.randrange(1, 10)}"
    elif kind == "deaths_negative":
        deaths = str(-rng.randrange(1, 500))
    elif kind == "deaths_nan":
        deaths = "NaN"
    elif kind == "deaths_infinity":
        deaths = "Infinity"
    elif kind == "entity_padded":
        entity = f" {entity} "
    return [entity, day, deaths]


def rows(seed, n):
    """`n` data rows for `seed`: exact per-class counts, shuffled positions."""
    rng = random.Random(seed)
    kinds = []
    for kind, rate in FAULTS:
        kinds += [kind] * max(1, round(rate * n))
    kinds += ["good"] * (n - len(kinds))
    rng.shuffle(kinds)
    entities = rng.choices(ENTITIES, k=n)
    days = rng.choices(_DAYS, k=n)
    deaths = rng.choices(_DEATHS, k=n)
    out = []
    for i, kind in enumerate(kinds):
        if kind == "good":
            out.append([entities[i], days[i], deaths[i]])
        elif kind == "duplicate" and out:
            out.append(list(out[-1]))
        else:
            out.append(_plant(kind, entities[i], days[i], deaths[i], rng))
    return out


@functools.lru_cache(maxsize=None)
def _double(cell):
    """`try_cast(trim(cell) AS DOUBLE)` for the cells this module writes."""
    t = cell.strip()
    if t == "NaN":
        return math.nan
    if t in ("Infinity", "+Infinity"):
        return math.inf
    if t == "-Infinity":
        return -math.inf
    return float(t) if _NUMBER.fullmatch(t) else None


@functools.lru_cache(maxsize=None)
def _iso_date_ok(cell):
    if not _ISO_DAY.fullmatch(cell):
        return False
    try:
        datetime.date(*map(int, cell.split("-")))
        return True
    except ValueError:
        return False


def expect(data):
    """Exact counts for `data` rows ([entity, Day, deaths] strings, "" =
    blank cell, which the CSV reader turns into NULL)."""
    viol = dict.fromkeys(RULES, 0)
    records = deaths_sum = elt_final = 0
    for entity, day, deaths in data:
        value = _double(deaths) if deaths else None
        viol["required_entity"] += entity.strip() == ""
        viol["required_Day"] += day.strip() == ""
        viol["required_total_confirmed_deaths"] += deaths.strip() == ""
        viol["numeric_total_confirmed_deaths"] += bool(deaths) and value is None
        viol["date_Day"] += bool(day) and not _iso_date_ok(day)
        # CovidTransform.clean: int(float(x)) truncation; NaN/Infinity reject
        if (entity.strip() and value is not None and math.isfinite(value)
                and _iso_date_ok(day)):
            records += 1
            deaths_sum += int(value)
        # eltPipeline: WHERE total_confirmed_deaths > 0, NaN sorting above
        # every number as Spark orders doubles
        if value is not None and (math.isnan(value) or value > 0):
            elt_final += 1
    return {"rows": len(data), "violations": viol, "records": records,
            "deaths_sum": deaths_sum, "elt_final": elt_final}


def read_csv(path):
    """Rows of a headered three-column CSV without quoting."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()[1:]
    return [line.split(",") for line in lines if line]


def write_csv(path, data):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(HEADER + "\n")
        f.write("".join(f"{e},{d},{x}\n" for e, d, x in data))


def generate(path, seed, n):
    """Write one seeded file; return its expectations."""
    data = rows(seed, n)
    write_csv(path, data)
    return expect(data)
