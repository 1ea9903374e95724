"""Flight-API source adapters (SURVEY.md §2.1 S1-S5).

The reference pulls live flights driver-side from the FlightRadar24 client,
recursively quartering any zone that hits the API's row cap
(`/root/reference/src/extract.py:11-83`). This module keeps that *client
pagination* logic but engine-shaped:

- the network client is injected as a plain ``fetch_zone(zone) -> rows``
  callable, so tests (and offline runs) swap in fixture-backed fakes — no
  network dependency anywhere in the engine;
- the cap comparison is done on ints. The reference reads ``API_LIMIT``
  from INI as a *string* and compares it to ``len(flights)`` — in Python 3
  ``int == str`` is always False, so its recursive split can never fire
  (`/root/reference/src/extract.py:7-8,63`; latent bug documented in
  SURVEY.md §2.1 S1). Not reproduced.
- driver-side rows land in Spark through ``rows_to_df``, as one Arrow
  table with the explicit schema (no inference — SURVEY §1.3). The JVM
  decodes the table itself. ``spark.createDataFrame(list, schema)`` would
  pickle the rows into a Python RDD, and ``_pickled()`` adds an identity
  ``map`` on top, so every scan of the frame would start Python workers
  and round-trip each row JVM → Python → JVM;
- at scale the zone grid is distributed: ``fetch_all_distributed`` ships
  the same per-zone recursion to executors via ``parallelize(zones)
  .flatMap``, so N initial zones fetch concurrently instead of serially
  on the driver. The callable must be picklable and the API must tolerate
  executor-side fan-out (rate limits are the real bound, not the engine).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


@dataclass(frozen=True)
class Zone:
    """Lat/lon bounding box: tl = (north, west), br = (south, east)."""

    north: float
    west: float
    south: float
    east: float

    def quarter(self) -> list["Zone"]:
        """Split into 4 equal sub-zones (reference ``divide_zone``,
        `/root/reference/src/extract.py:11-51`)."""
        mid_lat = (self.north + self.south) / 2
        mid_lon = (self.west + self.east) / 2
        return [
            Zone(self.north, self.west, mid_lat, mid_lon),
            Zone(self.north, mid_lon, mid_lat, self.east),
            Zone(mid_lat, self.west, self.south, mid_lon),
            Zone(mid_lat, mid_lon, self.south, self.east),
        ]


WORLD = Zone(north=90.0, west=-180.0, south=-90.0, east=180.0)

FetchZone = Callable[[Zone], list]


def fetch_zone_recursive(
    fetch_zone: FetchZone,
    zone: Zone,
    limit: int,
    max_depth: int = 8,
) -> Iterator:
    """Yield every row in ``zone``, quartering whenever a fetch returns
    ``>= limit`` rows (the cap means "truncated — ask smaller").

    ``max_depth`` bounds recursion against degenerate hotspots (the
    reference recurses unboundedly); at depth 0 the truncated page is
    yielded as-is rather than lost.
    """
    rows = fetch_zone(zone)
    if len(rows) >= int(limit) and max_depth > 0:
        for sub in zone.quarter():
            yield from fetch_zone_recursive(fetch_zone, sub, limit, max_depth - 1)
    else:
        yield from rows


def fetch_all(
    fetch_zone: FetchZone,
    limit: int,
    zones: Iterable[Zone] = (WORLD,),
    max_depth: int = 8,
) -> list:
    """Driver-side fetch over an initial zone grid (S1 equivalent)."""
    out: list = []
    for z in zones:
        out.extend(fetch_zone_recursive(fetch_zone, z, limit, max_depth))
    return out


def fetch_all_distributed(
    spark: SparkSession,
    fetch_zone: FetchZone,
    limit: int,
    zones: list[Zone],
    schema: StructType,
    max_depth: int = 8,
) -> DataFrame:
    """Executor-side fetch: the zone grid is parallelized and each task
    runs the same quartering recursion, so ingest scales with the grid
    instead of serializing on the driver. Returns a DataFrame with the
    explicit ``schema`` (rows must be dicts matching its field names)."""
    n = max(len(zones), 1)
    rows = spark.sparkContext.parallelize(zones, n).flatMap(
        lambda z: list(fetch_zone_recursive(fetch_zone, z, limit, max_depth))
    )
    return spark.createDataFrame(rows, schema=schema)


# Spark field type → (its Arrow type, the kind of inferred Arrow type it
# accepts). These are the flat atomic types the ingest schemas use; the
# kinds mirror the list path's type verifier, which takes only ``str`` for
# a string, ``int`` (not ``bool``) for an integer, ``float`` for a float
# and ``bool`` for a boolean.
_ARROW_FIELDS = {
    StringType: (pa.string(), pa.types.is_string),
    IntegerType: (pa.int32(), pa.types.is_integer),
    LongType: (pa.int64(), pa.types.is_integer),
    FloatType: (pa.float32(), pa.types.is_floating),
    DoubleType: (pa.float64(), pa.types.is_floating),
    BooleanType: (pa.bool_(), pa.types.is_boolean),
}


def _arrow_column(values, field: StructField) -> pa.Array:
    """One checked Arrow column: default inference, a kind check against
    the field, then a safe cast to the field's Arrow type."""
    name, dtype = field.name, field.dataType
    if type(dtype) not in _ARROW_FIELDS:
        raise TypeError(f"field {name}: rows_to_df does not take {dtype}")
    arrow_type, kind = _ARROW_FIELDS[type(dtype)]
    try:
        inferred = pa.array(values)
    except OverflowError as exc:  # an int past 64 bits
        raise ValueError(f"field {name}: {dtype} out of range: {exc}") from exc
    except (pa.ArrowInvalid, pa.ArrowTypeError) as exc:  # mixed kinds
        raise TypeError(f"field {name}: {dtype} can not accept {exc}") from exc
    if not (pa.types.is_null(inferred.type) or kind(inferred.type)):
        raise TypeError(
            f"field {name}: {dtype} can not accept values of Arrow type {inferred.type}"
        )
    if not field.nullable and inferred.null_count:
        raise ValueError(f"field {name}: this field is not nullable, but got None")
    try:
        return inferred.cast(arrow_type, safe=True)
    except pa.ArrowInvalid as exc:  # out of range for the field's width
        raise ValueError(f"field {name}: {dtype} out of range: {exc}") from exc


def _positional(row, names: list[str]):
    """A row's values in field order: tuples and lists (``Row`` too) as
    they are, dicts by field name."""
    if isinstance(row, (tuple, list)):
        return row
    if isinstance(row, dict):
        return [row.get(n) for n in names]
    raise TypeError(f"rows_to_df takes tuples, lists or dicts, got {type(row).__name__}")


def rows_to_df(
    spark: SparkSession, rows: Iterable | pd.DataFrame, schema: StructType
) -> DataFrame:
    """Driver-side rows → DataFrame with the explicit ``schema`` (S4/S5;
    the reference's inferred bronze ``createDataFrame`` is not reproduced).

    Rows are tuples or lists (positional, like ``Row(**kw)``) or dicts (by
    field name, a missing key is null). They are built into one Arrow
    table, a column per field, and ``spark.createDataFrame`` hands the
    table to the JVM, which decodes it itself: no scan of the frame starts
    a Python worker. The list path, ``spark.createDataFrame(list, schema)``,
    pickles the rows into a Python RDD that ``_pickled()`` maps once more,
    so each scan of its frame sends every row JVM → Python → JVM.

    A pandas frame already goes through Arrow (the session enables it) and
    is passed to ``spark.createDataFrame`` as it is.

    Every column keeps the list path's type checks. A string, float or
    bool in an integer field, an int or string in a float field, an
    integer out of the field's range and a row of the wrong length raise,
    naming the field where the list path's message does. Two inputs the
    list path refuses are taken, neither changing a value: numpy scalars,
    and ints mixed with floats in a float column (Arrow infers a double
    and refuses an int a double cannot hold exactly). One input the list
    path takes is refused: a non-string in a string field, which the list
    path stores as the JVM's ``toString`` of the object. Only the flat
    atomic types of the ingest schemas (string, int, long, float, double,
    boolean) are supported; any other field type raises ``TypeError``.
    """
    if isinstance(rows, pd.DataFrame):
        return spark.createDataFrame(rows, schema=schema)
    names = schema.fieldNames()
    width = len(names)
    tuples = [_positional(r, names) for r in rows]
    for r in tuples:
        if len(r) != width:
            raise ValueError(
                f"Length of object ({len(r)}) does not match with length of fields ({width})."
            )
    columns = list(zip(*tuples)) or [()] * width
    table = pa.Table.from_arrays(
        [_arrow_column(col, f) for col, f in zip(columns, schema.fields)], names=names
    )
    return spark.createDataFrame(table, schema=schema)
