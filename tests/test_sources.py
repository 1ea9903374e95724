"""Flight-API source adapter: zone quartering, cap semantics, depth bound,
distributed fetch (SURVEY.md §2.1 S1-S5) — all against an injected fake
client, no network — and the Arrow ingest of driver-side rows
(``rows_to_df``) against the list path it replaces."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import flightgen
from flight_radar_pipeline_spark.schemas import FLIGHTS_RAW
from flight_radar_pipeline_spark.sources.flight_api import (
    WORLD,
    Zone,
    fetch_all,
    fetch_all_distributed,
    fetch_zone_recursive,
    rows_to_df,
)


def _grid_client(flights, cap):
    """Fake API: returns flights inside the zone, truncated at cap —
    exactly how a row-capped endpoint behaves."""

    def fetch(zone: Zone):
        hits = [
            f
            for f in flights
            if zone.south <= f["latitude"] < zone.north
            and zone.west <= f["longitude"] < zone.east
        ]
        return hits[:cap]

    return fetch


def _mk_flights(n, lat0, lon0, spread=1.0):
    return [
        {
            "id": f"f{lat0}-{lon0}-{i}",
            "latitude": lat0 + (i % 10) * spread / 10,
            "longitude": lon0 + (i // 10) * spread / 10,
        }
        for i in range(n)
    ]


def test_no_split_under_cap():
    flights = _mk_flights(5, 10.0, 10.0)
    got = list(fetch_zone_recursive(_grid_client(flights, cap=1500), WORLD, 1500))
    assert len(got) == 5


def test_quartering_recovers_all_rows_past_cap():
    # 40 flights clustered in one cell; cap 10 → the world fetch truncates,
    # quartering must recurse until every flight is visible
    flights = _mk_flights(40, 10.0, 10.0, spread=40.0)
    got = list(fetch_zone_recursive(_grid_client(flights, cap=10), WORLD, 10))
    assert sorted(f["id"] for f in got) == sorted(f["id"] for f in flights)


def test_cap_comparison_is_numeric():
    # the reference compares len(rows) to a *string* limit, so its split
    # never fires; ours must fire on int or numeric-string limits alike
    flights = _mk_flights(40, 10.0, 10.0, spread=40.0)
    got = list(fetch_zone_recursive(_grid_client(flights, cap=10), WORLD, "10"))
    assert len(got) == len(flights)


def test_depth_bound_yields_truncated_page():
    flights = _mk_flights(40, 10.0, 10.0, spread=0.0)  # all at one point
    got = list(
        fetch_zone_recursive(_grid_client(flights, cap=10), WORLD, 10, max_depth=3)
    )
    # degenerate hotspot: depth exhausts, the capped page is kept, not lost
    assert len(got) > 0


def test_fetch_all_over_grid():
    flights = _mk_flights(8, -20.0, 30.0)
    zones = WORLD.quarter()
    got = fetch_all(_grid_client(flights, cap=1500), 1500, zones)
    assert len(got) == 8


def test_distributed_fetch_matches_driver_fetch(spark):
    flights = [
        {
            "id": f["id"],
            "aircraft_code": "A320",
            "time": 1700000000,
            "latitude": f["latitude"],
            "longitude": f["longitude"],
            "origin_airport_iata": "AAA",
            "destination_airport_iata": "BBB",
            "number": "FL1",
            "on_ground": 0,
            "airline_icao": "AAL",
        }
        for f in _mk_flights(25, 5.0, 5.0, spread=30.0)
    ]
    client = _grid_client(flights, cap=8)
    df = fetch_all_distributed(
        spark, client, 8, WORLD.quarter(), schema=FLIGHTS_RAW
    )
    driver_rows = fetch_all(client, 8, WORLD.quarter())
    assert sorted(r["id"] for r in df.select("id").collect()) == sorted(
        f["id"] for f in driver_rows
    )
    assert df.schema == FLIGHTS_RAW


# --- rows_to_df: Arrow ingest against the list path --------------------------


@pytest.fixture(scope="module")
def raw_pdf():
    return flightgen.generate()["flights_raw"]


def _as(kind, pdf):
    records = pdf.to_dict("records")
    return {
        "tuples": [tuple(r.values()) for r in records],
        "dicts": records,
        "rows": [Row(**r) for r in records],
        "pandas": pdf,
        "empty": [],
    }[kind]


@pytest.mark.parametrize("kind", ["tuples", "dicts", "rows", "pandas", "empty"])
def test_rows_to_df_collects_what_the_list_path_collects(spark, raw_pdf, kind):
    rows = _as(kind, raw_pdf)
    got = rows_to_df(spark, rows, FLIGHTS_RAW)
    assert got.schema == FLIGHTS_RAW
    assert sorted(got.collect()) == sorted(spark.createDataFrame(rows, FLIGHTS_RAW).collect())


_GOOD = ("f1", "A320", 1700000000, 48.5, 2.25, "CDG", "JFK", "AF1", 0, "AFR")


def _with(**kw):
    row = dict(zip(FLIGHTS_RAW.fieldNames(), _GOOD))
    row.update(kw)
    return [tuple(row.values())]


@pytest.mark.parametrize(
    "rows, schema",
    [
        pytest.param(_with(time="1700000000"), FLIGHTS_RAW, id="str-in-int"),
        pytest.param(_with(time=1.5), FLIGHTS_RAW, id="float-in-int"),
        pytest.param(_with(on_ground=True), FLIGHTS_RAW, id="bool-in-int"),
        pytest.param(
            _with(latitude=48) + _with(latitude=49), FLIGHTS_RAW, id="int-only-float-column"
        ),
        pytest.param(_with(time=2**31), FLIGHTS_RAW, id="int32-overflow"),
        pytest.param([_GOOD[:-1]], FLIGHTS_RAW, id="short-tuple"),
        pytest.param(
            [(None,)], StructType([StructField("id", StringType(), False)]), id="null-in-not-null"
        ),
    ],
)
def test_rows_to_df_rejects_what_the_list_path_rejects(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)) as listed:
        spark.createDataFrame(rows, schema).collect()
    with pytest.raises((TypeError, ValueError)) as arrowed:
        rows_to_df(spark, rows, schema)
    # the same kind of error, naming the field wherever the list path does
    base = TypeError if isinstance(listed.value, TypeError) else ValueError
    assert isinstance(arrowed.value, base)
    for name in schema.fieldNames():
        if f"field {name}:" in str(listed.value):
            assert f"field {name}:" in str(arrowed.value)


def test_rows_to_df_lossless_leniencies_and_string_strictness(spark):
    """Two inputs the list path refuses are taken without changing a value
    (numpy scalars; ints mixed with floats in a float column), and one it
    takes is refused (a non-string in a string field, which the list path
    stores as the JVM's ``toString``)."""
    numpy_row = [
        (np.str_("f1"), "A320", np.int32(1700000000), np.float32(48.5), np.float64(2.25),
         "CDG", "JFK", "AF1", np.int64(0), "AFR")
    ]
    mixed = _with(latitude=48) + _with(latitude=48.5)
    for rows in (numpy_row, mixed):
        with pytest.raises(TypeError):
            spark.createDataFrame(rows, FLIGHTS_RAW).collect()
    assert [tuple(r) for r in rows_to_df(spark, numpy_row, FLIGHTS_RAW).collect()] == [_GOOD]
    assert [r.latitude for r in rows_to_df(spark, mixed, FLIGHTS_RAW).collect()] == [48.0, 48.5]

    ints_as_ids = _with(id=7)
    assert spark.createDataFrame(ints_as_ids, FLIGHTS_RAW).collect()[0].id == "7"
    with pytest.raises(TypeError, match="field id:"):
        rows_to_df(spark, ints_as_ids, FLIGHTS_RAW)


@pytest.mark.parametrize(
    "dtype", [TimestampType(), DecimalType(10, 2), ArrayType(StringType())], ids=str
)
def test_rows_to_df_refuses_types_outside_the_ingest_schemas(spark, dtype):
    schema = StructType([StructField("x", dtype, True)])
    with pytest.raises(TypeError, match="field x:"):
        rows_to_df(spark, [(None,)], schema)


def test_rows_to_df_lineage_holds_no_python_rdd(spark, raw_pdf):
    """The Arrow frame is decoded in the JVM; the list path's lineage holds
    the ``PythonRDD`` that sends every row through a Python worker."""
    rows = _as("tuples", raw_pdf.head(50))

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" in lineage(spark.createDataFrame(rows, FLIGHTS_RAW))
    assert "PythonRDD" not in lineage(rows_to_df(spark, rows, FLIGHTS_RAW))
