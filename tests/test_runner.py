"""End-to-end medallion pipeline: extract → bronze → silver → gold → query.

Mirrors the reference's ``pipeline_flow`` chain
(`/root/reference/src/main.py:105-152`) with a fixture-backed client and a
local filesystem instead of a live API + object store.
"""

from __future__ import annotations

import os

import pytest

import flightgen
from flight_radar_pipeline_spark import cli, schemas
from flight_radar_pipeline_spark.pipeline import run_pipeline
from flight_radar_pipeline_spark.plans.queries import QUERIES


@pytest.fixture(scope="module")
def pdfs():
    return flightgen.generate()


def test_run_pipeline_end_to_end(spark, tmp_path, pdfs):
    base = str(tmp_path / "medallion")
    n_raw = len(pdfs["flights_raw"])

    def fetch_flights(zone):
        # fixture client: whole world in one page, under the cap
        return pdfs["flights_raw"].to_dict("records")

    result = run_pipeline(
        spark,
        base,
        fetch_flights=fetch_flights,
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        api_limit=n_raw + 1,
    )

    # every layer landed, date-partitioned
    assert os.path.isdir(result.bronze_path)
    assert any(d.startswith("year=") for d in os.listdir(result.gold_path))

    # silver deduped on id
    silver = spark.read.parquet(result.silver_path)
    assert silver.count() == pdfs["flights_raw"]["id"].nunique()
    assert silver.select("id").distinct().count() == silver.count()

    # gold readable and query-able straight off storage
    gold = result.gold
    assert {"distance", "origin_continent", "airline_name"} <= set(gold.columns)
    top = QUERIES["airline_with_most_flights"](gold).collect()
    assert len(top) == 1 and top[0].flight_count > 0


def test_rerun_append_is_distinguishable_and_dim_idempotent(spark, tmp_path, pdfs):
    base = str(tmp_path / "medallion2")
    raw = spark.createDataFrame(pdfs["flights_raw"], schema=schemas.FLIGHTS_RAW)

    first = run_pipeline(
        spark,
        base,
        flights_raw=raw,
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        run_id="run-1",
    )
    n_gold = first.gold.count()
    n_airlines = spark.read.parquet(first.airlines_path).count()

    second = run_pipeline(
        spark,
        base,
        flights_raw=raw,
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        run_id="run-2",
    )
    # dims: write-if-absent no-op; facts: append per run, every row
    # stamped with its producing run so the duplication is dedupable
    assert spark.read.parquet(second.airlines_path).count() == n_airlines
    assert second.gold.count() == 2 * n_gold
    silver = spark.read.parquet(second.silver_path)
    assert set(r["run_id"] for r in silver.select("run_id").distinct().collect()) == {
        "run-1",
        "run-2",
    }
    # storage invariant under append: one row per (run_id, id)
    assert silver.select("run_id", "id").distinct().count() == silver.count()
    # latest-run-wins dedup recovers exactly one row per id
    latest = silver.filter(silver["run_id"] == "run-2")
    assert latest.count() == silver.select("id").distinct().count()
    assert latest.select("id").distinct().count() == latest.count()


WARM_GROUP = "runner-warm-batch"


@pytest.fixture(scope="module")
def two_runs(spark, tmp_path_factory, pdfs):
    """Two appended batches over disjoint halves of the raw flights (split
    by id, so a re-sent id stays in one half). The second, warm batch (its
    dimensions already landed) runs under its own job group."""
    raw = pdfs["flights_raw"]
    first = raw["id"].isin(set(sorted(raw["id"].unique())[::2]))
    halves = {
        run_id: spark.createDataFrame(half, schema=schemas.FLIGHTS_RAW)
        for run_id, half in (("run-1", raw[first]), ("run-2", raw[~first]))
    }
    base = str(tmp_path_factory.mktemp("isolation"))
    sc = spark.sparkContext
    results = {}
    for run_id, half in halves.items():
        if run_id == "run-2":
            sc.setJobGroup(WARM_GROUP, "warm run_pipeline batch")
        try:
            results[run_id] = run_pipeline(
                spark,
                base,
                flights_raw=half,
                fetch_airlines=lambda: pdfs["airlines"],
                fetch_airports=lambda: pdfs["airports"],
                run_id=run_id,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    warm_jobs = len(sc.statusTracker().getJobIdsForGroup(WARM_GROUP))
    return {
        "base": base, "raw": raw, "first": first, "results": results, "warm_jobs": warm_jobs,
    }


def test_each_run_lands_only_its_own_rows_in_gold(spark, two_runs, pdfs):
    """Gold is built from the silver rows the run just landed: a run's gold
    holds exactly its own half's joinable ids, never the other run's."""
    raw, first = two_runs["raw"], two_runs["first"]
    joinable = (
        raw["origin_airport_iata"].isin(pdfs["airports"]["iata"])
        & raw["destination_airport_iata"].isin(pdfs["airports"]["iata"])
        & raw["airline_icao"].isin(pdfs["airlines"]["ICAO"])
    )
    result = two_runs["results"]["run-2"]
    silver = spark.read.parquet(result.silver_path)
    for run_id, half in (("run-1", first), ("run-2", ~first)):
        gold = result.gold.where(result.gold["run_id"] == run_id)
        gold_ids = [r.id for r in gold.select("id").collect()]
        silver_ids = {
            r.id for r in silver.where(silver["run_id"] == run_id).select("id").collect()
        }
        assert silver_ids == set(raw[half]["id"])
        assert sorted(gold_ids) == sorted(set(raw[half & joinable]["id"]))
        assert two_runs["results"][run_id].run_info["gold_rows"] == len(gold_ids)


def test_warm_batch_job_budget(two_runs):
    """A warm batch (dimensions already on storage, their fetchers still
    passed) launches 6 jobs:

    1. the bronze CSV write;
    2. the silver ``id`` dedup shuffle (map side);
    3. the silver write;
    4. gold: the airports broadcast;
    5. gold: the airlines broadcast;
    6. the gold write, over the silver rows the run landed.

    A stored dimension is not fetched again, so the airports' continent
    broadcast no longer runs ahead of an ignore-mode write that finds the
    path (7 jobs). No read launches a schema-inference job, and gold does
    not re-run the dedup shuffle (gold from the silver plan, and reads
    without a schema, took 11 jobs)."""
    assert two_runs["warm_jobs"] == 6


def test_empty_snapshot_lands_nothing_and_counts_zero(spark, two_runs):
    """A fetch that returns no rows is an Arrow frame of 0 partitions: the
    batch must still finish its observed writes and count 0 in every
    layer. It lands in the module lake over its stored dimensions, which
    it neither fetches nor rewrites, and adds no gold rows."""
    result = two_runs["results"]["run-2"]
    gold_before = result.gold.count()
    empty = run_pipeline(
        spark,
        two_runs["base"],
        fetch_flights=lambda zone: [],
        fetch_airlines=lambda: pytest.fail("a stored dimension was fetched"),
        fetch_airports=lambda: pytest.fail("a stored dimension was fetched"),
        run_id="run-empty",
    )
    info = empty.run_info
    assert (info["silver_rows"], info["gold_rows"], info["quarantined_rows"]) == (0, 0, 0)
    assert empty.gold.count() == gold_before


def test_stored_schemas_leave_the_layer_constants_alone(two_runs):
    """The stored shapes append ``run_id`` to fresh field lists: after two
    batches the silver and gold constants keep their field counts."""
    assert len(schemas.FLIGHTS_SILVER.fields) == 10
    assert len(schemas.FLIGHTS_GOLD.fields) == 22
    assert schemas.FLIGHTS_SILVER_STORED.fieldNames()[-1] == "run_id"
    assert schemas.FLIGHTS_GOLD_STORED.fieldNames() == [
        *schemas.FLIGHTS_GOLD.fieldNames(),
        "run_id",
    ]


def test_rerun_overwrite_partitions_is_idempotent(spark, tmp_path, pdfs):
    """A retry after a crash between the silver and gold writes must not
    duplicate rows on storage: overwrite_partitions replaces exactly the
    date partitions the run writes."""
    base = str(tmp_path / "medallion3")
    raw = spark.createDataFrame(pdfs["flights_raw"], schema=schemas.FLIGHTS_RAW)
    kw = dict(
        flights_raw=raw,
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        fact_mode="overwrite_partitions",
    )
    first = run_pipeline(spark, base, run_id="run-1", **kw)
    n_gold = first.gold.count()
    second = run_pipeline(spark, base, run_id="run-retry", **kw)
    assert second.gold.count() == n_gold
    silver = spark.read.parquet(second.silver_path)
    # the rerun fully replaced the partitions: only its run_id remains,
    # and the one-row-per-id invariant holds on storage itself
    assert [r["run_id"] for r in silver.select("run_id").distinct().collect()] == [
        "run-retry"
    ]
    assert silver.select("id").distinct().count() == silver.count()


def test_cli_run_pipeline_then_query(spark, tmp_path, pdfs, capsys, monkeypatch):
    monkeypatch.setattr(cli, "get_spark_session", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    base = str(tmp_path / "clibase")
    raw_path = str(tmp_path / "raw_flights")
    spark.createDataFrame(pdfs["flights_raw"], schema=schemas.FLIGHTS_RAW).write.parquet(
        raw_path
    )
    airlines_csv = str(tmp_path / "airlines.csv")
    airports_csv = str(tmp_path / "airports.csv")
    pdfs["airlines"].to_csv(airlines_csv, index=False)
    pdfs["airports"].to_csv(airports_csv, index=False)

    rc = cli.main(
        [
            "run-pipeline",
            "--base",
            base,
            "--raw-flights",
            raw_path,
            "--airlines-csv",
            airlines_csv,
            "--airports-csv",
            airports_csv,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert '"gold_rows"' in out

    # query the written gold through the CLI's latest-snapshot path
    rc = cli.main(
        ["airline-with-most-flights", "--gold", f"{base}/flights/gold", "--latest"]
    )
    assert rc == 0
    assert "flight_count" in capsys.readouterr().out


def test_expectations_gate_quarantines_between_silver_and_gold(spark, tmp_path, pdfs):
    import pyspark.sql.functions as F

    base = str(tmp_path / "gated")
    kw = dict(
        fetch_flights=lambda zone: pdfs["flights_raw"].to_dict("records"),
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        api_limit=len(pdfs["flights_raw"]) + 1,
    )
    result = run_pipeline(
        spark,
        base,
        expectations={"southern_hemisphere": F.col("latitude") <= 0},
        **kw,
    )
    n_ids = pdfs["flights_raw"]["id"].nunique()
    silver = spark.read.parquet(result.silver_path)
    quarantine = spark.read.parquet(f"{base}/flights/quarantine")
    # exact partition of the deduped silver population
    assert quarantine.count() > 0
    assert silver.count() + quarantine.select("id").distinct().count() == n_ids
    assert set(r.rule for r in quarantine.select("rule").distinct().collect()) == {
        "southern_hemisphere"
    }
    # nothing quarantined leaks into gold
    bad = {r.id for r in quarantine.select("id").collect()}
    assert not bad & {r.id for r in result.gold.select("id").collect()}
    assert result.gold.where(F.col("latitude") > 0).count() == 0
    # quarantine rows follow the fact tables' rerun semantics: run_id
    # stamped, date-partitioned
    assert {"run_id", "rule", "year", "month", "day"} <= set(quarantine.columns)
    base_q = quarantine.count()

    # under overwrite_partitions a retried run replaces its own quarantine
    # partitions instead of duplicating them (ADVICE r5)
    result2 = run_pipeline(
        spark, base, run_id="retry-1", fact_mode="overwrite_partitions",
        expectations={"southern_hemisphere": F.col("latitude") <= 0}, **kw,
    )
    result3 = run_pipeline(
        spark, base, run_id="retry-1", fact_mode="overwrite_partitions",
        expectations={"southern_hemisphere": F.col("latitude") <= 0}, **kw,
    )
    q_after = spark.read.parquet(f"{base}/flights/quarantine")
    # the re-landed retry did not grow the table: one run_id's rows exactly
    assert q_after.count() == q_after.where(F.col("run_id") == "retry-1").count()
    assert result2.run_info["quarantined_rows"] == result3.run_info["quarantined_rows"]


def test_run_info_records_counts_without_extra_scans(spark, tmp_path, pdfs):
    import json as _json

    import pyspark.sql.functions as F

    base = str(tmp_path / "runinfo")
    result = run_pipeline(
        spark,
        base,
        fetch_flights=lambda zone: pdfs["flights_raw"].to_dict("records"),
        fetch_airlines=lambda: pdfs["airlines"],
        fetch_airports=lambda: pdfs["airports"],
        api_limit=len(pdfs["flights_raw"]) + 1,
        run_id="ri-1",
        expectations={"southern": F.col("latitude") <= 0},
    )
    info = result.run_info
    on_disk = _json.load(open(f"{base}/_RUN_INFO-ri-1.json"))
    assert info == on_disk
    assert info["run_id"] == "ri-1"
    assert info["expectations"] == ["southern"]
    # observed counts equal what storage actually holds
    assert info["silver_rows"] == spark.read.parquet(result.silver_path).count()
    assert info["gold_rows"] == result.gold.count()
    assert info["quarantined_rows"] == spark.read.parquet(
        f"{base}/flights/quarantine"
    ).count()
    assert info["silver_rows"] + info["quarantined_rows"] == (
        pdfs["flights_raw"]["id"].nunique()
    )
