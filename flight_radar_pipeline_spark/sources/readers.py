"""Batch readers.

Replaces the reference's inference-everywhere reads (SURVEY.md §2.1 S6-S7:
``spark.read.option("header","true").csv(path)`` with no schema erases every
type on the CSV round-trip) with schema-carrying readers, plus the loader
for the synthetic test tables.

Scale note: these return single lazy scans — filters and projections applied
by callers reach the parquet reader as PushedFilters/ReadSchema, so a
100 TB table is read column- and row-group-pruned, never materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flight_radar_pipeline_spark.schemas import TESTDATA_TABLES


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: StructType, header: bool = True) -> DataFrame:
    """CSV scan with a mandatory schema — the reference's silent
    string-typing of cached dimensions (``/root/reference/src/main.py:53``)
    is not reproducible through this API."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic test table, normalizing physical quirks.

    ``events.ts`` has been written two ways across driver testdata
    generations: parquet TIMESTAMP(NANOS) (arrives as int64 nanos under
    ``spark.sql.legacy.parquet.nanosAsLong=true``, set in the session
    factory) and plain TIMESTAMP(MICROS) (arrives as timestamp /
    timestamp_ntz). Normalize both to session-local TimestampType so every
    downstream plan and oracle sees one type regardless of generation:
    int64 nanos → integer-divide to micros (a double division would lose
    precision above 2^53); timestamp_ntz → reinterpret in the session zone
    (UTC) to match DuckDB's naive-timestamp presentation.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(events: DataFrame) -> DataFrame:
    """``events.ts`` as TimestampType, batch or stream — see ``load_table``."""
    ts_type = dict(events.dtypes)["ts"]
    if ts_type == "bigint":
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
) -> None:
    """Register every testdata table as a session temp view so the whole
    battery surface is reachable through plain ``spark.sql`` — the same
    normalized frames the DataFrame API sees (events.ts fixed up), so a
    SQL user and a DataFrame user read identical tables. Views are
    lazy: registration costs one schema read per table, nothing scans
    until a query runs."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
