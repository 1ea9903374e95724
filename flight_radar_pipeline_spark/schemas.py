"""Central schema registry.

The reference declares StructTypes inline at three call sites
(``/root/reference/src/transform.py:100-105,126-134,166-179``) and otherwise
lets CSV/`createDataFrame` inference erase types (SURVEY.md §1.2-1.3). Here
every table has exactly one authoritative StructType shared by readers,
writers, fixtures and tests.

Type decisions preserved for golden parity (SURVEY.md §1.2):
- coordinates and ``distance`` are float32 (``FloatType``);
- ``on_ground`` is int 0/1;
- silver/gold ``time`` is a formatted *string* at the presentation edge
  (internally the pipeline carries a real timestamp).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- flight domain (reference parity) -------------------------------------

# /root/reference/src/transform.py:100-105 — capitalized names preserved.
AIRLINES = StructType(
    [
        StructField("Name", StringType(), True),
        StructField("ICAO", StringType(), True),
    ]
)

# /root/reference/src/transform.py:126-134 (+ continent added at :151).
AIRPORTS = StructType(
    [
        StructField("name", StringType(), True),
        StructField("iata", StringType(), True),
        StructField("latitude", FloatType(), True),
        StructField("longitude", FloatType(), True),
        StructField("country", StringType(), True),
        StructField("continent", StringType(), True),
    ]
)

# /root/reference/src/transform.py:166-179 — `time` kept as int unix seconds
# at ingest; the silver transform rewrites it to a formatted string.
FLIGHTS_RAW = StructType(
    [
        StructField("id", StringType(), True),
        StructField("aircraft_code", StringType(), True),
        StructField("time", IntegerType(), True),
        StructField("latitude", FloatType(), True),
        StructField("longitude", FloatType(), True),
        StructField("origin_airport_iata", StringType(), True),
        StructField("destination_airport_iata", StringType(), True),
        StructField("number", StringType(), True),
        StructField("on_ground", IntegerType(), True),
        StructField("airline_icao", StringType(), True),
    ]
)

# Silver = raw schema with `time` already formatted to string
# (/root/reference/src/transform.py:189-192, session TZ Europe/Paris).
FLIGHTS_SILVER = StructType(
    [
        StructField("id", StringType(), True),
        StructField("aircraft_code", StringType(), True),
        StructField("time", StringType(), True),
        StructField("latitude", FloatType(), True),
        StructField("longitude", FloatType(), True),
        StructField("origin_airport_iata", StringType(), True),
        StructField("destination_airport_iata", StringType(), True),
        StructField("number", StringType(), True),
        StructField("on_ground", IntegerType(), True),
        StructField("airline_icao", StringType(), True),
    ]
)

# Gold 22-column fact table — column order confirmed from the reference
# fixture footer (FIXTURES.md §4; built at /root/reference/src/transform.py:197-264).
FLIGHTS_GOLD = StructType(
    list(FLIGHTS_SILVER.fields)
    + [
        StructField("origin_airport_name", StringType(), True),
        StructField("origin_latitude", FloatType(), True),
        StructField("origin_longitude", FloatType(), True),
        StructField("origin_continent", StringType(), True),
        StructField("origin_country", StringType(), True),
        StructField("destination_airport_name", StringType(), True),
        StructField("destination_latitude", FloatType(), True),
        StructField("destination_longitude", FloatType(), True),
        StructField("destination_continent", StringType(), True),
        StructField("destination_country", StringType(), True),
        StructField("airline_name", StringType(), True),
        StructField("distance", FloatType(), True),
    ]
)

# Stored fact shapes: the medallion runner stamps every landed silver/gold
# row with its producing ``run_id`` (``sinks.writers.write_partitioned``).
# Each is built from a fresh field list — ``StructType.add`` appends to the
# list it was given, so ``StructType(FLIGHTS_SILVER.fields).add(...)`` would
# grow the constant above on every call.
FLIGHTS_SILVER_STORED = StructType(
    [*FLIGHTS_SILVER.fields, StructField("run_id", StringType(), True)]
)
FLIGHTS_GOLD_STORED = StructType(
    [*FLIGHTS_GOLD.fields, StructField("run_id", StringType(), True)]
)

# --- synthetic test-data star schema (TESTDATA.md) -------------------------
# Declared so readers can assert, not infer; Parquet self-describes but an
# explicit expectation catches silent upstream drift.

EVENTS = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType(), True), True),
        StructField("label", IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
