"""End-to-end medallion pipeline runner (SURVEY.md §3.1).

Composes the stages the reference chains in its Prefect flow
(``/root/reference/src/main.py:105-152`` — extract → bronze CSV → silver
parquet → gold parquet) into one callable, engine-shaped:

- the flight/airline/airport *clients* are injected callables, so offline
  runs and tests use fixture-backed fakes (no network in the engine);
- dimensions are get-or-create: written once via the idempotent
  ``write_if_absent`` (the reference probes the bucket for ``_SUCCESS``
  driver-side, ``src/main.py:42-45``), then always read back from storage so
  every run downstream sees the stored dim, not the in-memory one;
- facts land date-partitioned (real ``year/month/day`` columns, bounded
  file sizes) instead of the reference's strftime'd path strings — readers
  prune partitions from predicates;
- orchestration-neutral: scheduling (the reference's Prefect ``.serve``)
  stays outside the engine; any scheduler can call ``run_pipeline``.

Scale: the only driver-side materialization is the optional zone fetch
(bounded by the API, not the engine — and ``fetch_all_distributed`` ships
it to executors). Fetched rows land through ``rows_to_df`` as one Arrow
table that the JVM decodes itself, so the bronze and silver scans of the
snapshot start no Python worker; a list-path ``createDataFrame`` would
send every row JVM → Python → JVM on each scan (``_pickled()``'s identity
``map``). A dimension already on storage is not fetched again. Bronze and
silver are lazy plans over the ingested rows;
gold is built from the silver rows this run landed, read back from
storage, so the raw input is scanned and the ``id`` dedup shuffle runs
once per batch, not once more for gold. The gold build broadcasts both
dimensions, so the fact table is never shuffled between silver and gold.
Every read-back passes its stored schema, so no read launches a
schema-inference job. The silver read-back keeps ``run_id == <this run>``
by Parquet filter pushdown, which still opens the footer of every silver
file; pruning it to the batch's date partitions is not done yet.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_radar_pipeline_spark import schemas
from flight_radar_pipeline_spark.functions.continents import with_continent
from flight_radar_pipeline_spark.pipeline.gold import build_gold
from flight_radar_pipeline_spark.pipeline.silver import build_silver
from flight_radar_pipeline_spark.sinks.writers import write_if_absent, write_partitioned
from flight_radar_pipeline_spark.sources.flight_api import (
    WORLD,
    FetchZone,
    Zone,
    fetch_all,
    rows_to_df,
)
from flight_radar_pipeline_spark.sources.readers import read_parquet


@dataclass(frozen=True)
class PipelineResult:
    """Where each layer landed, plus the gold DataFrame for callers that
    want to query immediately without re-reading, and the run-info record
    (also persisted as ``{base_path}/_RUN_INFO-{run_id}.json``)."""

    airlines_path: str
    airports_path: str
    bronze_path: str
    silver_path: str
    gold_path: str
    gold: DataFrame
    run_info: dict


def _stored(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, by the Hadoop ``FileSystem`` that
    ``mode("ignore")`` asks."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath)


def _get_or_create_dim(
    spark: SparkSession,
    path: str,
    fetch: Callable[[], list] | None,
    schema,
    fetched=None,
    enrich: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Idempotent dimension materialization: write once, read always.

    A dimension already stored at ``path`` is neither fetched nor enriched:
    the driver asks the path's Hadoop ``FileSystem`` whether it exists,
    the same test ``mode("ignore")`` makes. ``write_if_absent``'s ignore
    mode stays the guard for a run that lands the path between that test
    and its own write; reading back from storage means a run that skipped
    the write and
    a run that performed it see byte-identical dimensions. ``schema`` is
    the stored shape, passed to the read-back so it launches no
    schema-inference job; ``fetched`` is the shape of the fetched rows when
    ``enrich`` derives columns from them (default: ``schema``). The gold
    build applies the same rule to the fact: it reads the silver rows this
    run landed instead of re-deriving them.
    """
    if fetch is not None and not _stored(spark, path):
        dim = rows_to_df(spark, fetch(), fetched or schema)
        if enrich is not None:
            dim = enrich(dim)
        write_if_absent(dim, path)
    return read_parquet(spark, path, schema)


def run_pipeline(
    spark: SparkSession,
    base_path: str,
    *,
    fetch_flights: FetchZone | None = None,
    fetch_airlines: Callable[[], list] | None = None,
    fetch_airports: Callable[[], list] | None = None,
    flights_raw: DataFrame | None = None,
    api_limit: int = 1500,
    zones: Iterable[Zone] = (WORLD,),
    join_how: str = "inner",
    run_id: str | None = None,
    fact_mode: str = "append",
    expectations: dict | None = None,
) -> PipelineResult:
    """Run the full medallion chain and land every layer under ``base_path``.

    Ingest comes from either the injected zone fetcher (``fetch_flights``,
    quartered on the API cap like the reference's ``get_all_flights``) or a
    pre-built raw DataFrame (``flights_raw`` — e.g. a file drop); exactly
    one must be provided. Dimensions fetch only when their parquet is
    absent; pass ``fetch_airlines=None`` to require pre-existing dims.

    Rerun semantics (``fact_mode``):

    - ``"append"`` (default, the reference's hourly-batch cadence): each
      run's rows land alongside earlier runs', stamped with ``run_id``
      (caller-supplied, else a generated uuid) — so a retry after a crash
      between the silver and gold writes appends *distinguishable*
      duplicates, and storage readers can dedupe by latest run per key.
      On storage, the silver invariant is therefore one row per
      (run_id, id), not per id.
    - ``"overwrite_partitions"`` (backfills/retries): dynamic partition
      overwrite — the rerun replaces exactly the date partitions it
      writes, so re-landing the same input is byte-idempotent. Do not use
      for intra-day incremental appends (it would clobber the day's
      earlier batches).

    A ``run_id`` names one landing: gold is built from the silver rows on
    storage stamped with this ``run_id``. Reusing a ``run_id`` under
    ``"append"`` already breaks silver's one-row-per-(run_id, id)
    invariant, and gold (and ``run_info["gold_rows"]``) now inherits
    those duplicates. Under ``"overwrite_partitions"`` a reused
    ``run_id`` is safe only for the same input: silver rows it left in
    date partitions the rerun does not write are read back too.

    ``expectations`` (optional): named boolean rules applied between
    silver and gold; violating rows are appended to
    ``{base_path}/flights/quarantine`` with a ``rule`` label instead of
    flowing downstream (see ``pipeline.quality.enforce_expectations``).
    """
    if (fetch_flights is None) == (flights_raw is None):
        raise ValueError("provide exactly one of fetch_flights / flights_raw")
    if fact_mode not in ("append", "overwrite_partitions"):
        raise ValueError(f"unknown fact_mode: {fact_mode!r}")
    dynamic = fact_mode == "overwrite_partitions"
    if run_id is None:
        run_id = uuid.uuid4().hex

    airlines_path = f"{base_path}/dims/airlines"
    airports_path = f"{base_path}/dims/airports"
    bronze_path = f"{base_path}/flights/bronze"
    silver_path = f"{base_path}/flights/silver"
    gold_path = f"{base_path}/flights/gold"

    airlines = _get_or_create_dim(spark, airlines_path, fetch_airlines, schemas.AIRLINES)
    airports = _get_or_create_dim(
        spark,
        airports_path,
        fetch_airports,
        schemas.AIRPORTS,
        fetched=schemas.StructType(schemas.AIRPORTS.fields[:-1]),  # continent derived below
        enrich=lambda df: with_continent(df, "country"),
    )

    if flights_raw is None:
        rows = fetch_all(fetch_flights, api_limit, zones)
        flights_raw = rows_to_df(spark, rows, schemas.FLIGHTS_RAW)

    # bronze: raw rows as landed, date-bucketed CSV like the reference's
    # save_flights_bronze_csv (K2) — kept headerless-typed via explicit schema
    write_partitioned(
        flights_raw, bronze_path, ts_col="time", fmt="csv",
        run_id=run_id, dynamic_overwrite=dynamic,
    )

    # observe() rides each layer's write — row counts with ZERO extra
    # scans (the reference re-counts with seven eager actions; see
    # pipeline/metrics.py)
    from flight_radar_pipeline_spark.pipeline.metrics import observed_counts

    silver = build_silver(flights_raw)
    if expectations:
        # quality gate between silver and gold: violating rows land in a
        # labeled quarantine table beside the data instead of polluting
        # downstream joins (SQL CHECK null semantics — see
        # pipeline.quality.enforce_expectations)
        from flight_radar_pipeline_spark.pipeline.quality import (
            enforce_expectations,
        )

        silver, violations = enforce_expectations(silver, expectations)
        violations, q_obs = observed_counts(violations, f"quarantine-{run_id}")
        # quarantine follows the fact tables' rerun semantics: rows carry
        # run_id (dedup-able under "append"), and under
        # "overwrite_partitions" a retry replaces exactly its date
        # partitions — so backfills stay byte-idempotent end to end
        # (including the quarantine side-channel)
        write_partitioned(
            violations, f"{base_path}/flights/quarantine", ts_col="time",
            fmt="parquet", run_id=run_id, dynamic_overwrite=dynamic,
        )
    else:
        q_obs = None
    silver, s_obs = observed_counts(silver, f"silver-{run_id}")
    write_partitioned(
        silver, silver_path, ts_col="time", fmt="parquet",
        run_id=run_id, dynamic_overwrite=dynamic,
    )

    # gold reads the silver rows this run landed, not the silver plan (which
    # would re-scan the raw input and re-run the dedup shuffle); the select
    # drops run_id and year/month/day so gold keeps FLIGHTS_GOLD order
    landed = (
        read_parquet(spark, silver_path, schemas.FLIGHTS_SILVER_STORED)
        .where(F.col("run_id") == run_id)
        .select(*schemas.FLIGHTS_SILVER.fieldNames())
    )
    gold = build_gold(landed, airports, airlines, how=join_how)
    gold, g_obs = observed_counts(gold, f"gold-{run_id}")
    write_partitioned(
        gold, gold_path, ts_col="time", fmt="parquet",
        run_id=run_id, dynamic_overwrite=dynamic,
    )

    run_info = {
        "run_id": run_id,
        "fact_mode": fact_mode,
        "silver_rows": s_obs.get["rows"],
        "gold_rows": g_obs.get["rows"],
        "quarantined_rows": q_obs.get["rows"] if q_obs is not None else 0,
        "expectations": sorted(expectations) if expectations else [],
    }
    with open(f"{base_path}/_RUN_INFO-{run_id}.json", "w") as fh:
        json.dump(run_info, fh, indent=1)

    return PipelineResult(
        airlines_path=airlines_path,
        airports_path=airports_path,
        bronze_path=bronze_path,
        silver_path=silver_path,
        gold_path=gold_path,
        gold=read_parquet(spark, gold_path, schemas.FLIGHTS_GOLD_STORED),
        run_info=run_info,
    )
