"""Correctness checks, computed with DuckDB.

For the medallion workloads, DuckDB recomputes silver, gold and the six
answers from the generated raw rows and dimensions alone, and reads the
landed lake back from storage. For the operator slice, it runs each
entry's ``oracle_sql()`` statement over the generated tables. Each check
that fails adds a line to the returned list; an empty list means every
check passed.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

EARTH_RADIUS_KM = 6371.0
FLOAT32_RTOL = 1e-6  # float32 carries ~7 significant digits
Q4_ATOL = 0.011  # Q4 rounds to 2 dp; summation order may flip the last digit


def connect(dims, country_to_continent: dict[str, str], raw_paths: dict[str, str]):
    """A DuckDB connection holding the inputs and the expected silver and
    gold tables. ``raw_paths`` maps each run id to its raw batch file."""
    con = duckdb.connect()
    con.register("airlines_in", dims.airlines)
    con.register("airports_in", dims.airports)
    con.register(
        "continents_in",
        pd.DataFrame(
            list(country_to_continent.items()), columns=["country", "continent"]
        ),
    )
    raw = " UNION ALL ".join(
        f"SELECT *, '{run}' AS run_id FROM read_parquet('{path}')"
        for run, path in raw_paths.items()
    )
    con.sql(f"CREATE VIEW raw AS {raw}")
    con.sql(
        """
        CREATE TABLE silver_x AS
        SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY run_id, id ORDER BY time DESC) AS rn
            FROM raw) WHERE rn = 1
        """
    )
    con.sql(
        """
        CREATE VIEW airports_x AS
        SELECT a.*, coalesce(c.continent, 'Unknown') AS continent
        FROM airports_in a LEFT JOIN continents_in c ON a.country = c.country
        """
    )
    r = EARTH_RADIUS_KM
    con.sql(
        f"""
        CREATE TABLE gold_x AS
        SELECT s.*,
            o.name AS origin_airport_name, o.continent AS origin_continent,
            o.country AS origin_country,
            d.name AS destination_airport_name, d.continent AS destination_continent,
            d.country AS destination_country,
            l.Name AS airline_name,
            CAST(2 * {r} * asin(sqrt(
                pow(sin(radians(d.latitude::DOUBLE - o.latitude::DOUBLE) / 2), 2)
                + cos(radians(o.latitude::DOUBLE)) * cos(radians(d.latitude::DOUBLE))
                * pow(sin(radians(d.longitude::DOUBLE - o.longitude::DOUBLE) / 2), 2)
            )) AS FLOAT) AS distance
        FROM silver_x s
        JOIN airports_x o ON s.origin_airport_iata = o.iata
        JOIN airports_x d ON s.destination_airport_iata = d.iata
        JOIN airlines_in l ON s.airline_icao = l.ICAO
        """
    )
    return con


ANSWERS_SQL = {
    "airline_with_most_flights": """
        SELECT airline_name, count(*) AS flight_count FROM gold_x
        GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 1""",
    "most_active_airline_per_continent": """
        SELECT continent, airline_name, flight_count FROM (
            SELECT origin_continent AS continent, airline_name, count(*) AS flight_count,
                row_number() OVER (PARTITION BY origin_continent
                                   ORDER BY count(*) DESC, airline_name) AS rn
            FROM gold_x WHERE origin_continent = destination_continent
            GROUP BY 1, 2) WHERE rn = 1 ORDER BY continent""",
    "average_flight_length_per_continent": """
        SELECT origin_continent AS continent, round(avg(distance), 2) AS average_distance
        FROM gold_x WHERE origin_continent = destination_continent
        GROUP BY 1 ORDER BY 1""",
    "top_three_aircraft_models_per_country": """
        SELECT origin_country, string_agg(aircraft_code, ', ' ORDER BY rk) AS top_aircrafts
        FROM (
            SELECT origin_country, aircraft_code,
                row_number() OVER (PARTITION BY origin_country
                                   ORDER BY count(*) DESC, aircraft_code) AS rk
            FROM gold_x GROUP BY 1, 2) WHERE rk <= 3
        GROUP BY 1 ORDER BY 1""",
    "airport_with_most_diff_in_out_flights": """
        WITH o AS (SELECT origin_airport_name AS airport, count(*) AS outgoing_count
                   FROM gold_x GROUP BY 1),
             i AS (SELECT destination_airport_name AS airport, count(*) AS incoming_count
                   FROM gold_x GROUP BY 1)
        SELECT airport, outgoing_count, incoming_count,
               abs(outgoing_count - incoming_count) AS diff
        FROM o JOIN i USING (airport) ORDER BY diff DESC, airport LIMIT 1""",
}


def _close(a, b, rtol: float = FLOAT32_RTOL, atol: float = 0.0) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=atol)


def _same_rows(got: list[dict], want: list[dict], float_cols: dict[str, float]) -> str | None:
    """None when the row lists agree; floats within the given abs tolerance."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for col, wv in w.items():
            gv = g.get(col)
            if col in float_cols:
                ok = gv is not None and _close(gv, wv, atol=float_cols[col])
            else:
                ok = gv == wv
            if not ok:
                return f"row {i} {col}: {gv!r}, expected {wv!r}"
    return None


def check_answers(con, answers: dict[str, list[dict]]) -> list[str]:
    """Compare the program's six answers with DuckDB's."""
    bad = []
    for name, sql in ANSWERS_SQL.items():
        want = con.sql(sql).df().to_dict("records")
        floats = {"average_distance": Q4_ATOL}
        diff = _same_rows(answers[name], want, floats)
        if diff:
            bad.append(f"{name}: {diff}")
    # Q3: the longest flight; ties within float32 tolerance may pick either
    got = answers["longest_trajectory_flight"]
    top = con.sql("SELECT max(distance) FROM gold_x").fetchone()[0]
    ok_ids = {
        r[0]
        for r in con.sql(
            f"SELECT id FROM gold_x WHERE distance >= {top} * (1 - {FLOAT32_RTOL})"
        ).fetchall()
    }
    if len(got) != 1 or got[0]["id"] not in ok_ids or not _close(got[0]["distance"], top):
        bad.append(f"longest_trajectory_flight: {got!r}, expected distance {top} of {ok_ids}")
    return bad


def check_lake(con, lake: str, run_info: dict[str, dict], served: bool) -> list[str]:
    """Silver and gold on storage against the expected rows, and against
    the counts the pipeline observed. With ``served``, also bronze against
    the snapshot each run fetched."""
    bad = []
    con.sql(
        f"CREATE OR REPLACE VIEW silver_l AS SELECT * FROM "
        f"read_parquet('{lake}/flights/silver/**/*.parquet', hive_partitioning = true)"
    )
    con.sql(
        f"CREATE OR REPLACE VIEW gold_l AS SELECT * FROM "
        f"read_parquet('{lake}/flights/gold/**/*.parquet', hive_partitioning = true)"
    )
    counts = {
        "silver": "SELECT run_id, count(*) FROM silver_l GROUP BY 1",
        "gold": "SELECT run_id, count(*) FROM gold_l GROUP BY 1",
        "silver_x": "SELECT run_id, count(*) FROM silver_x GROUP BY 1",
        "distinct_ids": "SELECT run_id, count(DISTINCT id) FROM raw GROUP BY 1",
        "gold_x": "SELECT run_id, count(*) FROM gold_x GROUP BY 1",
    }
    got = {k: dict(con.sql(q).fetchall()) for k, q in counts.items()}
    for run, info in run_info.items():
        stored_s, stored_g = got["silver"].get(run), got["gold"].get(run)
        if not stored_s == info["silver_rows"] == got["distinct_ids"].get(run) == got[
            "silver_x"
        ].get(run):
            bad.append(
                f"{run}: silver stored {stored_s}, observed {info['silver_rows']}, "
                f"distinct ids {got['distinct_ids'].get(run)}"
            )
        if not stored_g == info["gold_rows"] == got["gold_x"].get(run):
            bad.append(
                f"{run}: gold stored {stored_g}, observed {info['gold_rows']}, "
                f"expected {got['gold_x'].get(run)}"
            )
    repeats = con.sql(
        "SELECT count(*) FROM (SELECT run_id, id FROM silver_l GROUP BY 1, 2 HAVING count(*) > 1)"
    ).fetchone()[0]
    if repeats:
        bad.append(f"silver: {repeats} (run_id, id) pairs repeat")
    # silver keeps the newest row of each id, unchanged
    stale = con.sql(
        """
        SELECT count(*) FROM silver_l s JOIN silver_x x USING (run_id, id)
        WHERE s.latitude <> x.latitude
           OR s.time <> strftime(make_timestamp(x.time::BIGINT * 1000000), '%Y-%m-%d %H:%M:%S')
        """
    ).fetchone()[0]
    if stale:
        bad.append(f"silver: {stale} rows differ from the newest raw row of their id")
    if served:
        con.sql(
            f"""CREATE OR REPLACE VIEW bronze_l AS SELECT * FROM read_csv(
                '{lake}/flights/bronze/**/*.csv', header = false, hive_partitioning = true,
                columns = {{'id': 'VARCHAR', 'aircraft_code': 'VARCHAR', 'time': 'INTEGER',
                    'latitude': 'FLOAT', 'longitude': 'FLOAT',
                    'origin_airport_iata': 'VARCHAR', 'destination_airport_iata': 'VARCHAR',
                    'number': 'VARCHAR', 'on_ground': 'INTEGER', 'airline_icao': 'VARCHAR',
                    'run_id': 'VARCHAR'}})"""
        )
        for side, (a, b) in {
            "missing from bronze": ("raw", "bronze_l"),
            "not served": ("bronze_l", "raw"),
        }.items():
            n = con.sql(
                f"SELECT count(*) FROM (SELECT run_id, id, time FROM {a} "
                f"EXCEPT ALL SELECT run_id, id, time FROM {b})"
            ).fetchone()[0]
            if n:
                bad.append(f"bronze: {n} rows {side}")
    return bad


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column."""
    out = df[sorted(df.columns)]
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def check_entries(tables: str, sqls: dict[str, str], results: dict[str, pd.DataFrame]) -> list[str]:
    """Each entry's result against its oracle statement on DuckDB over the
    parquet tables in ``tables``, canonicalized and compared exactly (the
    entries round in the plan on both sides)."""
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    bad = []
    for name, sql in sqls.items():
        got, want = _canonical(results[name]), _canonical(con.sql(sql).df())
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)}, expected {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows, expected {len(want)}")
        else:
            for col in got.columns:
                g, w = got[col].astype(object), want[col].astype(object)
                differ = (g.isna() != w.isna()) | (g.notna() & (g != w))
                if differ.any():
                    i = int(differ.idxmax())
                    bad.append(f"{name} row {i} {col}: {g[i]!r}, expected {w[i]!r}")
                    break
    con.close()
    return bad
