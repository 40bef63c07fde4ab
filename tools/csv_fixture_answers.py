"""Expected answers for `src/test/resources/houses_fixture.csv`, from DuckDB.

The fixture is a hand-built UTF-16 (BOM) CSV in the reference's 12-column
shape. DuckDB reads UTF-8 only, so the script transcodes it to a temporary
UTF-8 copy, reads every column as text, and re-states the pipeline's
cleaning and validity rules in SQL (graft.etl.Cleaning,
GeoEstatePipeline.isValidHouse). Spark's `trim` strips ASCII spaces only,
hence `trim(x, ' ')`. It prints the answers `CsvFixtureSpec` pins:

    python3 tools/csv_fixture_answers.py [path/to/houses_fixture.csv]
"""
import json
import os
import sys
import tempfile

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(ROOT, "src", "test", "resources", "houses_fixture.csv")
COLUMNS = ["house_id", "latitude", "longitude", "maintenance_year", "square",
           "population", "region", "locality_name", "address", "full_address",
           "communal_service_id", "description"]

CLEANED = """
CREATE TABLE cleaned AS SELECT
  CAST(house_id AS BIGINT) AS src_id,
  regexp_replace(trim(square, ' '), '[^0-9.]', '', 'g') AS square_s,
  regexp_replace(trim(maintenance_year, ' '), '[^0-9]', '', 'g') AS year_s,
  regexp_replace(trim(population, ' '), '[^0-9]', '', 'g') AS population_s,
  regexp_replace(trim(latitude, ' '), '[^0-9.\\-]', '', 'g') AS latitude_s,
  regexp_replace(trim(longitude, ' '), '[^0-9.\\-]', '', 'g') AS longitude_s,
  region, locality_name, address
FROM raw
"""

RULES = {
    "square": "regexp_full_match(square_s, '[0-9]+(\\.[0-9]+)?') "
              "AND try_cast(square_s AS DOUBLE) IS NOT NULL",
    "maintenance_year": "regexp_full_match(year_s, '[0-9]{4}')",
    "population": "regexp_full_match(population_s, '[0-9]+') "
                  "AND try_cast(population_s AS INTEGER) IS NOT NULL",
    "latitude": "try_cast(latitude_s AS DOUBLE) IS NOT NULL",
    "longitude": "try_cast(longitude_s AS DOUBLE) IS NOT NULL",
    "region": "trim(region, ' ') <> ''",
    "locality_name": "trim(locality_name, ' ') <> ''",
    "address": "trim(address, ' ') <> ''",
}


def answers(path):
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as tmp:
        utf8 = os.path.join(tmp, "houses.csv")
        with open(path, encoding="utf-16") as src, \
                open(utf8, "w", encoding="utf-8", newline="") as dst:
            dst.write(src.read())
        types = ", ".join(f"'{c}': 'VARCHAR'" for c in COLUMNS)
        con.execute(f"""CREATE TABLE raw AS SELECT * FROM read_csv('{utf8}',
            header = true, quote = '"', escape = '"', delim = ',',
            columns = {{{types}}})""")
    con.execute(CLEANED)
    ok = {k: f"coalesce({v}, false)" for k, v in RULES.items()}
    valid = " AND ".join(ok.values())
    con.execute(f"""CREATE TABLE houses AS SELECT
        row_number() OVER (ORDER BY src_id) AS house_id, src_id,
        CAST(square_s AS DOUBLE) AS square,
        CAST(year_s AS INTEGER) AS year, region
      FROM cleaned WHERE {valid}""")
    rejects = con.execute("SELECT " + ", ".join(
        f"count(*) FILTER (WHERE NOT {v})" for v in ok.values()) + " FROM cleaned").fetchone()
    return {
        "rows": con.execute("SELECT count(*) FROM raw").fetchone()[0],
        "valid_rows": con.execute("SELECT count(*) FROM houses").fetchone()[0],
        "rejects_by_rule": dict(zip(RULES, rejects)),
        "year_avg_median": list(con.execute(
            "SELECT avg(year), quantile_cont(year, 0.5) FROM houses").fetchone()),
        "top_regions": [list(r) for r in con.execute(
            "SELECT region, count(*) AS n FROM houses GROUP BY region "
            "ORDER BY n DESC, region LIMIT 5").fetchall()],
        "top25_square_over_60": [list(r) for r in con.execute(
            "SELECT house_id, src_id, square FROM houses WHERE square > 60 "
            "ORDER BY square DESC, house_id LIMIT 25").fetchall()],
    }


if __name__ == "__main__":
    print(json.dumps(answers(sys.argv[1] if len(sys.argv) > 1 else FIXTURE),
                     ensure_ascii=False, indent=1))
