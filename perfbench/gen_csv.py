"""Seeded generator for the `etl_csv` workload's input and its ground truth.

Writes a UTF-16 (with BOM) CSV in the reference's column set, split over
several files, planting each hazard of the reference file at a known rate:
quoted multi-line addresses and descriptions, `"`-escaped quotes, NBSP
thousands separators ("3 078.30"), unit suffixes and junk in numeric
columns, out-of-range years and blank text.

The ground truth is computed here, without Spark, by re-stating the
pipeline's cleaning and validity rules (graft.etl.Cleaning,
GeoEstatePipeline.isValidHouse) in Python: the valid-row count, rejects per
rule, and the answers of DAG steps 4-7 and 9 plus the sink checksums.

    python3 perfbench/gen_csv.py --seed 1 --rows 2000 --files 2 --out /tmp/csv
"""
import argparse
import csv
import json
import os
import random
import re

COLUMNS = ["house_id", "latitude", "longitude", "maintenance_year", "square",
           "population", "region", "locality_name", "address", "full_address",
           "communal_service_id", "description"]

REGIONS = ["Москва", "Московская область", "Санкт-Петербург",
           "Свердловская область", "Краснодарский край", "Республика Татарстан",
           "Новосибирская область", "Ростовская область", "Челябинская область",
           "Нижегородская область", "Самарская область", "Пермский край",
           "Республика Башкортостан", "Воронежская область", "Омская область",
           "Тюменская область", "Иркутская область", "Приморский край"]
CITIES = ["Москва", "Химки", "Подольск", "Санкт-Петербург", "Екатеринбург",
          "Нижний Тагил", "Краснодар", "Сочи", "Казань", "Набережные Челны",
          "Новосибирск", "Ростов-на-Дону", "Таганрог", "Челябинск",
          "Магнитогорск", "Нижний Новгород", "Самара", "Тольятти", "Пермь",
          "Уфа", "Воронеж", "Омск", "Тюмень", "Иркутск", "Владивосток"]
STREETS = ["ул. Ленина", "ул. Мира", "пр-т Победы", "ул. Гагарина",
           "ул. Советская", "ул. Садовая", "наб. Реки", "пер. Школьный"]
WORDS = ["дом", "кирпичный", "панельный", "капремонт", "лифт", "подъезд",
         "этажей", "газ", "отопление", "центральное", "квартир", "двор"]

NBSP = " "

# Hazard rates (per row). Each invalid hazard makes exactly one rule fail,
# except where rows draw several; the truth counts rule failures per row.
RATES = {
    "square_junk": 0.03,         # "n/a" -> "" after cleaning
    "square_two_dots": 0.01,     # "12.5.3" fails ^[0-9]+(\.[0-9]+)?$
    "year_out_of_range": 0.015,  # 3 or 5 digits
    "year_junk": 0.01,           # "нет данных"
    "population_junk": 0.02,     # "—"
    "population_overflow": 0.005,  # > INT_MAX
    "coord_junk": 0.005,         # "-" / "" in latitude or longitude
    "blank_text": 0.015,         # blank region / locality_name / address
}


def spark_trim(s):
    """Spark's trim(): strips ASCII spaces only (not NBSP, not tabs)."""
    return s.strip(" ")


def clean(s, drop):
    return None if s is None else re.sub(drop, "", spark_trim(s))


KEEP_NUMERIC_DOT = r"[^0-9.]"
KEEP_DIGITS = r"[^0-9]"
KEEP_SIGNED = r"[^0-9.\-]"


def as_double(s):
    # after cleaning only [0-9.-] remain; Java's parseDouble and Python's
    # float() accept and reject the same strings over that alphabet
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def valid_double(c):
    return c is not None and re.fullmatch(r"[0-9]+(\.[0-9]+)?", c) is not None


def valid_int(c):
    return c is not None and re.fullmatch(r"[0-9]+", c) is not None and int(c) <= 2**31 - 1


def valid_year(c):
    return c is not None and re.fullmatch(r"[0-9]{4}", c) is not None


def not_empty(s):
    return s is not None and spark_trim(s) != ""


def fmt_thousands(x, rng):
    """Square as the reference file spells it: plain, NBSP-grouped, with a
    unit suffix or padding."""
    s = f"{x:.2f}"
    ip, fp = s.split(".")
    if len(ip) > 3 and rng.random() < 0.7:
        ip = ip[:-3] + NBSP + ip[-3:]
        s = ip + "." + fp
    r = rng.random()
    if r < 0.25:
        s = s + " м²"
    elif r < 0.35:
        s = "  " + s + " "
    elif r < 0.40:
        s = "около " + s
    return s


def gen_row(rng, hid):
    flags = set()
    # square
    sq = round(rng.uniform(18, 400) if rng.random() < 0.9 else rng.uniform(400, 12000), 2)
    r = rng.random()
    if r < RATES["square_junk"]:
        square = rng.choice(["n/a", "—", "нет"])
    elif r < RATES["square_junk"] + RATES["square_two_dots"]:
        square = f"{int(sq)}.{rng.randint(0, 9)}.{rng.randint(0, 9)}"
    else:
        square = fmt_thousands(sq, rng)
    # maintenance year
    r = rng.random()
    yr = rng.randint(1850, 2024)
    if r < RATES["year_out_of_range"]:
        year = str(rng.choice([rng.randint(100, 999), rng.randint(10000, 20240)]))
    elif r < RATES["year_out_of_range"] + RATES["year_junk"]:
        year = "нет данных"
    else:
        year = rng.choice([str(yr), f"{yr} г.", f" {yr}"])
    # population
    r = rng.random()
    pop = rng.randint(1, 9000)
    if r < RATES["population_junk"]:
        population = "—"
    elif r < RATES["population_junk"] + RATES["population_overflow"]:
        population = str(rng.randint(2**31, 2**33))
    else:
        p = str(pop)
        if len(p) > 3 and rng.random() < 0.5:
            p = p[:-3] + rng.choice([NBSP, " "]) + p[-3:]
        population = rng.choice([p, p + " чел.", " " + p])
    # coordinates: exactly six decimals, so round(.., 6) is the identity
    lat = f"{rng.uniform(41.0, 70.0):.6f}"
    lon = f"{rng.uniform(19.0, 180.0):.6f}"
    if rng.random() < RATES["coord_junk"]:
        if rng.random() < 0.5:
            lat = rng.choice(["-", ""])
        else:
            lon = rng.choice(["-", ""])
    # text
    ri = min(int(rng.expovariate(0.25)), len(REGIONS) - 1)
    region = REGIONS[ri]
    city = CITIES[min(int(rng.expovariate(0.18)), len(CITIES) - 1)]
    street = rng.choice(STREETS)
    address = f"{street}, д. {rng.randint(1, 200)}"
    if rng.random() < 0.15:
        address += f"\nкорп. {rng.randint(1, 9)}"       # quoted multi-line
    if rng.random() < 0.08:
        address = f'ЖК "{rng.choice(WORDS).capitalize()}", ' + address  # "" escapes
    if rng.random() < RATES["blank_text"]:
        which = rng.randint(0, 2)
        blank = rng.choice(["", "   "])
        if which == 0:
            region = blank
        elif which == 1:
            city = blank
        else:
            address = blank
    full_address = f"{region}, {city}, {address}"
    communal = rng.choice([str(rng.randint(1, 99999)), "", "нет"])
    nwords = rng.randint(4, 30)
    desc = " ".join(rng.choice(WORDS) for _ in range(nwords))
    if rng.random() < 0.3:
        desc += '\n"Примечание": ' + " ".join(rng.choice(WORDS) for _ in range(5))
    row = [str(hid), lat, lon, year, square, population, region, city,
           address, full_address, communal, desc]
    return [None if v == "" else v for v in row]


def truth_for(rows):
    """Expected answers of the pipeline over `rows` (lists in COLUMNS order)."""
    rules = {k: 0 for k in ["square", "maintenance_year", "population", "latitude",
                            "longitude", "region", "locality_name", "address"]}
    valid = []
    for r in rows:
        d = dict(zip(COLUMNS, r))
        sq = clean(d["square"], KEEP_NUMERIC_DOT)
        yr = clean(d["maintenance_year"], KEEP_DIGITS)
        pop = clean(d["population"], KEEP_DIGITS)
        lat = clean(d["latitude"], KEEP_SIGNED)
        lon = clean(d["longitude"], KEEP_SIGNED)
        ok = {
            "square": valid_double(sq) and as_double(sq) is not None,
            "maintenance_year": valid_year(yr),
            "population": valid_int(pop),
            "latitude": as_double(lat) is not None,
            "longitude": as_double(lon) is not None,
            "region": not_empty(d["region"]),
            "locality_name": not_empty(d["locality_name"]),
            "address": not_empty(d["address"]),
        }
        for k, v in ok.items():
            if not v:
                rules[k] += 1
        if all(ok.values()):
            valid.append({"src_id": int(d["house_id"]), "square": float(sq),
                          "year": int(yr), "population": int(pop),
                          "region": d["region"], "city": d["locality_name"],
                          "address": d["address"]})
    valid.sort(key=lambda v: v["src_id"])
    for i, v in enumerate(valid):
        v["house_id"] = i + 1
    n = len(valid)
    years = sorted(v["year"] for v in valid)
    # Spark's exact percentile: interpolate at position (n-1)*0.5
    pos = (n - 1) * 0.5
    lo, hi = int(pos // 1), int(-(-pos // 1))
    median = float(years[lo]) if lo == hi else \
        (hi - pos) * years[lo] + (pos - lo) * years[hi]

    def top(key, k=10):
        c = {}
        for v in valid:
            c[v[key]] = c.get(v[key], 0) + 1
        return [[g, m] for g, m in sorted(c.items(), key=lambda t: (-t[1], t[0]))[:k]]

    mm = {}
    for v in valid:
        a = mm.setdefault(v["region"], [v["square"], v["square"]])
        a[0], a[1] = max(a[0], v["square"]), min(a[1], v["square"])
    hist = {}
    for v in valid:
        b = v["year"] // 10 * 10
        hist[b] = hist.get(b, 0) + 1
    big = sorted((v for v in valid if v["square"] > 60),
                 key=lambda v: (-v["square"], v["house_id"]))[:25]
    return {
        "rows": len(rows),
        "valid_rows": n,
        "rows_rejected": len(rows) - n,
        "rejects_by_rule": rules,
        "central_stats": [float(sum(years)) / n, median],
        "top_regions": top("region"),
        "top_cities": top("city"),
        "minmax_square": [[g, a[0], a[1]] for g, a in sorted(mm.items())],
        "decade_histogram": [[b, c] for b, c in sorted(hist.items())],
        "topk_square60": [[v["house_id"], v["src_id"], v["square"]] for v in big],
        "sink_checksum": [n, sum(v["house_id"] for v in valid),
                          sum(v["population"] for v in valid),
                          sum(v["year"] for v in valid),
                          sum(len(v["address"]) for v in valid)],
        "regions": len({v["region"] for v in valid}),
    }


def generate(seed, nrows, nfiles, out):
    rng = random.Random(seed)
    ids = rng.sample(range(1, 20 * nrows + 1), nrows)
    rows = [gen_row(rng, hid) for hid in ids]
    # every numeric column carries junk somewhere, so inferSchema reads it
    # as a string column, as it does on the reference file
    rows[0][COLUMNS.index("latitude")] = "-"
    rows[1][COLUMNS.index("longitude")] = "-"
    rows[2][COLUMNS.index("maintenance_year")] = "нет данных"
    rows[3][COLUMNS.index("square")] = "n/a"
    rows[4][COLUMNS.index("population")] = "—"
    os.makedirs(out, exist_ok=True)
    per = -(-nrows // nfiles)
    nbytes = 0
    for f in range(nfiles):
        path = os.path.join(out, f"houses_{f:02d}.csv")
        with open(path, "w", encoding="utf-16", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(COLUMNS)
            w.writerows(rows[f * per:(f + 1) * per])
        nbytes += os.path.getsize(path)
    truth = truth_for(rows)
    truth["bytes"] = nbytes
    truth["files"] = nfiles
    truth["seed"] = seed
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    truth = generate(a.seed, a.rows, a.files, a.out)
    with open(os.path.join(a.out, "truth.json"), "w") as fh:
        json.dump(truth, fh, ensure_ascii=False)
    print(json.dumps({k: truth[k] for k in ("rows", "valid_rows", "bytes")}))


if __name__ == "__main__":
    main()
