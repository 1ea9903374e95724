"""Seeded inputs for the benchmark's workloads.

Everything here is a pure function of the seed: the airline and airport
dimensions, the raw flight rows (with the awkward cases the pipeline must
handle: ids re-sent later with a newer ``time``, IATA/ICAO codes missing
from the dimensions, junk countries), a fake flight-API zone client that
serves one snapshot with the API's row cap, and the TPC-H-style ``orders``
and ``lineitem`` tables the operator entries read.

Flight ids are unique per generated batch before the re-sends are added,
and every re-send carries a strictly newer ``time``, so the silver dedup
winner is always well defined.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from flight_radar_pipeline_spark.functions.continents import COUNTRY_TO_CONTINENT

EPOCH = 1713445200  # 2024-04-18 13:00:00 UTC, an hour boundary
N_AIRLINES = 600
N_AIRPORTS = 2500
N_AIRCRAFT = 120
RESEND_SHARE = 0.04  # share of ids re-sent later in the same batch
MISSING_IATA_SHARE = 0.02  # origin/destination codes absent from airports
MISSING_ICAO_SHARE = 0.01  # airline codes absent from airlines
JUNK_COUNTRY_EVERY = 37  # every 37th airport has a country with no continent
API_ROW_CAP = 1500  # rows the flight API returns for one zone, at most

RAW_COLUMNS = [
    "id", "aircraft_code", "time", "latitude", "longitude",
    "origin_airport_iata", "destination_airport_iata", "number",
    "on_ground", "airline_icao",
]

_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_HEX = np.array(list("0123456789abcdef"), dtype="S1")


def _digits(values: np.ndarray, base: int, width: int, prefix: bytes = b"") -> np.ndarray:
    """Fixed-width base-``base`` renderings of non-negative integers."""
    v = values.astype(np.uint64)
    cols = [(v // np.uint64(base**k)) % np.uint64(base) for k in reversed(range(width))]
    chars = _HEX[np.stack(cols, axis=1).astype(np.intp)]
    body = chars.view(f"S{width}").ravel()
    return np.char.add(prefix, body).astype(str) if prefix else body.astype(str)


def _codes(rng: np.random.Generator, n: int, length: int) -> np.ndarray:
    """n distinct uppercase codes of the given length."""
    picks = rng.choice(26**length, size=n, replace=False)
    digits = [(picks // 26**k) % 26 for k in reversed(range(length))]
    return np.array(["".join(t) for t in zip(*(_LETTERS[d] for d in digits))])


@dataclass(frozen=True)
class Dimensions:
    airlines: pd.DataFrame  # Name, ICAO
    airports: pd.DataFrame  # name, iata, latitude, longitude, country
    aircraft: np.ndarray

    def airline_rows(self) -> list[tuple]:
        return list(self.airlines.itertuples(index=False, name=None))

    def airport_rows(self) -> list[tuple]:
        return list(self.airports.itertuples(index=False, name=None))


def dimensions(seed: int) -> Dimensions:
    rng = np.random.default_rng([seed, 0])
    icao = _codes(rng, N_AIRLINES, 3)
    airlines = pd.DataFrame({"Name": [f"Airline {c}" for c in icao], "ICAO": icao})
    iata = _codes(rng, N_AIRPORTS, 3)
    countries = np.array(sorted(COUNTRY_TO_CONTINENT), dtype=object)
    picks = countries[rng.integers(0, len(countries), N_AIRPORTS)]
    for j in range(0, N_AIRPORTS, JUNK_COUNTRY_EVERY):
        picks[j] = f"Atlantis-{j}"
    airports = pd.DataFrame(
        {
            "name": [f"Airport {c}" for c in iata],
            "iata": iata,
            "latitude": rng.uniform(-90, 90, N_AIRPORTS).astype(np.float32),
            "longitude": rng.uniform(-180, 180, N_AIRPORTS).astype(np.float32),
            "country": picks,
        }
    )
    aircraft = np.array([f"A{c}" for c in _codes(rng, N_AIRCRAFT, 3)])
    return Dimensions(airlines, airports, aircraft)


def raw_flights(seed: int, batch: int, n: int, dims: Dimensions) -> pd.DataFrame:
    """One batch of raw flight rows for hour ``batch`` (FLIGHTS_RAW columns).

    ``n`` distinct ids observed during the hour, plus ``RESEND_SHARE * n``
    rows re-sending an id with a strictly newer ``time`` and a moved
    position. Ids are distinct across batches of one seed too.
    """
    rng = np.random.default_rng([seed, 1, batch])
    # distinct ids: an odd multiplier permutes 32-bit integers
    base = np.arange(batch * n, (batch + 1) * n, dtype=np.uint64)
    ids = (base * np.uint64(2654435761) + np.uint64(seed)) % np.uint64(2**32)
    iata = dims.airports["iata"].to_numpy()
    icao = dims.airlines["ICAO"].to_numpy()

    def codes(pool: np.ndarray, miss_share: float, miss: str) -> np.ndarray:
        out = pool[rng.integers(0, len(pool), n)].astype(object)
        out[rng.random(n) < miss_share] = miss
        return out

    df = pd.DataFrame(
        {
            "id": _digits(ids, 16, 8),
            "aircraft_code": dims.aircraft[rng.integers(0, len(dims.aircraft), n)],
            "time": (EPOCH + 3600 * batch + rng.integers(0, 3000, n)).astype(np.int32),
            # strictly inside the world zone, so every flight is served
            "latitude": rng.uniform(-89.5, 89.5, n).astype(np.float32),
            "longitude": rng.uniform(-179.5, 179.5, n).astype(np.float32),
            "origin_airport_iata": codes(iata, MISSING_IATA_SHARE, "XX1"),
            "destination_airport_iata": codes(iata, MISSING_IATA_SHARE, "XX2"),
            "number": _digits(rng.integers(0, 10000, n), 10, 4, b"FL"),
            "on_ground": rng.integers(0, 2, n).astype(np.int32),
            "airline_icao": codes(icao, MISSING_ICAO_SHARE, "ZZZ"),
        }
    )
    resent = df.iloc[np.sort(rng.choice(n, int(n * RESEND_SHARE), replace=False))].copy()
    resent["time"] = resent["time"] + rng.integers(1, 600, len(resent)).astype(np.int32)
    resent["latitude"] = (resent["latitude"] + np.float32(0.25)).astype(np.float32)
    return pd.concat([df, resent], ignore_index=True)[RAW_COLUMNS]


@dataclass
class FakeZoneClient:
    """Serves one snapshot like the flight API: every flight inside the
    zone, cut at ``API_ROW_CAP`` rows. Zones are half-open (south, north] x
    [west, east), so quartering never serves a flight twice.

    ``calls`` and ``busy_s`` count the client's own work, so a traced run
    can subtract it from the fetch layer's time; ``first_start`` and
    ``last_end`` bound the fetch (``time.perf_counter`` seconds)."""

    snapshot: pd.DataFrame
    calls: int = 0
    busy_s: float = 0.0
    first_start: float = 0.0
    last_end: float = 0.0
    _lat: np.ndarray = field(init=False, repr=False)
    _lon: np.ndarray = field(init=False, repr=False)
    _rows: list = field(init=False, repr=False)

    def __post_init__(self) -> None:
        self._lat = self.snapshot["latitude"].to_numpy()
        self._lon = self.snapshot["longitude"].to_numpy()
        self._rows = list(self.snapshot.itertuples(index=False, name=None))

    def __call__(self, zone) -> list:
        t0 = time.perf_counter()
        if not self.calls:
            self.first_start = t0
        self.calls += 1
        hit = (
            (self._lat > zone.south) & (self._lat <= zone.north)
            & (self._lon >= zone.west) & (self._lon < zone.east)
        )
        idx = np.flatnonzero(hit)[:API_ROW_CAP]
        rows = [self._rows[i] for i in idx.tolist()]
        self.last_end = time.perf_counter()
        self.busy_s += self.last_end - t0
        return rows


ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY_US = 86_400_000_000
ORDER_DAY0 = np.datetime64("1992-01-01", "us")


def tpch_tables(seed: int, n_orders: int, out_dir: str) -> None:
    """Write ``orders.parquet`` and ``lineitem.parquet`` to ``out_dir``,
    with the column names and types of the TPC-H-style test tables.

    At ``n_orders`` orders there are ``n_orders / 10`` customers and
    ``n_orders / 150`` suppliers, as in TPC-H, and 1 to 7 lines an order.
    Order keys are sparse, like dbgen's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 1), n_orders // 7
    okey = np.sort(rng.choice(4 * n_orders, n_orders, replace=False)).astype(np.int64) + 1
    odate = ORDER_DAY0 + rng.integers(0, 2400, n_orders) * np.timedelta64(DAY_US, "us")
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(1, n_cust + 1, n_orders, dtype=np.int64),
            "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n_orders), 2),
            "o_orderdate": odate,
            "o_orderpriority": ORDER_PRIORITY[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": np.repeat(okey, lines),
            "l_partkey": rng.integers(1, n_part + 1, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n, dtype=np.int64),
            "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": np.repeat(odate, lines)
            + rng.integers(1, 122, n) * np.timedelta64(DAY_US, "us"),
        }
    )
    pq.write_table(orders, f"{out_dir}/orders.parquet")
    pq.write_table(lineitem, f"{out_dir}/lineitem.parquet")
