"""The event-log parser against tiny Spark jobs of known size.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import tracing as tr  # noqa: E402


def test_event_log_counts(tmp_path):
    from pyspark.sql import functions as F

    from flight_radar_pipeline_spark.session import get_spark_session

    conf = dict(tr.EVENT_LOG_CONF)
    conf.update(
        {
            "spark.eventLog.dir": f"file://{tmp_path}/ev",
            "spark.sql.adaptive.enabled": "false",
            # one task per input file
            "spark.sql.files.openCostInBytes": str(128 << 20),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    os.makedirs(tmp_path / "ev")
    spark = get_spark_session(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=3,
        timezone="UTC", extra_conf=conf,
    )
    try:
        tracer = tr.Tracer(sc=spark.sparkContext)
        with tracer.span("prep"):
            spark.range(0, 1000, 1, 4).write.parquet(f"{tmp_path}/in")
            scanned = spark.read.parquet(f"{tmp_path}/in")
        with tracer.span("outer"):
            with tracer.span("scan"):
                scanned.write.format("noop").mode("overwrite").save()
            # back in the outer span: its group is restored
            spark.range(0, 1000, 1, 4).repartition(3).write.format("noop").mode(
                "overwrite"
            ).save()
        with tracer.span("foreign"):
            # a job under a group that is no span's (as a streaming query
            # sets on its own thread) counts for the span open at the time
            spark.sparkContext.setJobGroup("stream-run-id", "")
            spark.range(0, 10, 1, 2).write.format("noop").mode("overwrite").save()
        with tracer.span("write"):
            # the broadcast side's 1000 rows are not records of the write
            spark.range(0, 100, 1, 2).join(F.broadcast(scanned), "id").write.parquet(
                f"{tmp_path}/lake/flights/gold"
            )
    finally:
        spark.stop()

    log = tr.parse_event_log(
        tr.find_event_log(f"{tmp_path}/ev"), {"/flights/gold": "gold"}, tracer.spans
    )
    scan = log.by_group["scan"]
    assert (scan.jobs, scan.tasks, scan.records_read) == (1, 4, 1000)
    outer = log.by_group["outer"]
    assert (outer.jobs, outer.tasks) == (1, 4 + 3)
    assert outer.shuffle_write_bytes > 0
    gold = log.writes[("write", "gold")]
    # the write job, plus the broadcast job reading its 4 files
    assert (gold.jobs, gold.tasks, gold.records_read) == (2, 2 + 4, 100)
    assert log.write_s[("write", "gold")] > 0
    assert ("prep", "gold") not in log.writes
    assert (log.by_group["foreign"].jobs, log.by_group["foreign"].tasks) == (1, 2)
    assert "stream-run-id" not in log.by_group
    outer_idx = next(i for i, s in enumerate(tracer.spans) if s.name == "outer")
    assert tracer.spans[outer_idx + 1].parent == outer_idx
