"""Structured Streaming over the event feed.

The reference simulates "real-time" with an hourly Prefect batch
(``/root/reference/src/main.py:156``; SURVEY.md §2.8 — no streaming at
all). Here the same hourly aggregation is a real incremental plan:
file-source → event-time tumbling window + watermark → sink. The batch
query (plans/battery.py ``hourly_event_counts``) and this stream share
semantics — the streaming run at `availableNow` must produce exactly the
batch answer, which is how the oracle checks it.

Scale posture: the stateful window agg is keyed on (window, event_type);
the 1-hour watermark bounds state. On a cluster this runs with RocksDB
state store and per-microbatch admission via ``maxFilesPerTrigger``.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flight_radar_pipeline_spark.sources.readers import normalize_event_ts
from flight_radar_pipeline_spark.streaming.ledger import link_stream, scratch_dir

# legacy physical schema of events.parquet under nanosAsLong (older driver
# testdata generations; see sources/readers.py for the normalization story)
EVENTS_PHYSICAL = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", LongType(), True),  # int64 nanos
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True):
    """Run streaming queries started inside this context on the RocksDB
    state store instead of the default HDFS-backed one.

    The default provider keeps every partition's full state map ON THE
    EXECUTOR HEAP — fine for toy state, an OOM machine at 100 TB scale
    (billions of keys for a stream-stream join or dedup horizon). RocksDB
    spills state to local disk with a bounded block cache, and changelog
    checkpointing uploads per-batch deltas instead of full snapshots.
    Results are identical by contract (same key-value semantics under the
    same watermark algebra) — pinned by ``tests/test_rocksdb_state.py``.

    Conf is read at QUERY START, so this only affects queries started in
    the block; a restarted checkpoint must keep its original provider."""
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": str(
            changelog_checkpointing
        ).lower(),
    }
    prev: dict[str, str | None] = {}
    for k, v in keys.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet, with the ts
    normalization applied (int64 nanos or timestamp_ntz → TimestampType,
    matching sources/readers.load_table).

    The stream source needs an explicit schema; it is sniffed from the
    parquet footer with a batch read so the reader tracks whichever
    physical ts encoding the current testdata generation uses. A
    bare-file path is streamed through a symlink in a scratch directory
    (``ledger.link_stream``): the file source requires a directory.
    """
    if os.path.isfile(path):
        stream = link_stream(spark, scratch_dir("events_stream_"), path)
    else:
        stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    return normalize_event_ts(stream)


def hourly_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour event-time window: count + value sum per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


def click_view_pairs_stream(
    clicks: DataFrame,
    views: DataFrame,
    lookback_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: every (click, view) pair of the same user
    where the view happened within ``lookback_minutes`` at-or-before the
    click.

    The two watermarks + the time-range predicate bound the join state:
    Spark keeps only ``watermark + lookback`` of each side's history per
    user, evicting as event time advances — without the range condition a
    stream-stream join would buffer both streams forever. Inner join makes
    the emitted set batch-equivalent (every match emits exactly once
    regardless of microbatching), which is what the SQL oracle checks.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    lb = f"INTERVAL {int(lookback_minutes)} MINUTES"
    return c.join(
        v,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(lb)),
        "inner",
    ).select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def view_click_left_outer_stream(
    views: DataFrame,
    clicks: DataFrame,
    lookforward_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every view paired with the same
    user's clicks in the ``lookforward_minutes`` after it — and views
    with NO such click still emitted (click columns null) once the
    watermark proves no match can arrive. The outer side is what makes
    this the streaming "did the impression convert?" operator; an inner
    join would silently drop the non-converting majority.

    Emission semantics (pinned by ``tests/test_session_boundary.py``):
    matched pairs emit like the inner join; an unmatched view emits
    null-extended only when the GLOBAL watermark passes the end of its
    match window. The global watermark is the MIN over every source's
    event-time watermark (Spark's default ``multipleWatermarkPolicy``),
    so with delay 0 over a replayed feed the emitted unmatched set is
    exactly the views with ``v_ts + lookforward <
    min(max view ts, max click ts)`` — boundary EXCLUSIVE (a view whose
    window ends exactly at the final watermark stays in state,
    unemitted). The SQL oracle states both parts directly.

    Scale: state per side is bounded by watermark + lookforward exactly
    as in the inner join; the outer rows add no state, only deferred
    emission. Without the time-range condition Spark would (rightly)
    reject the outer join as unbounded.
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    lf = f"INTERVAL {int(lookforward_minutes)} MINUTES"
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(lf)),
        "leftOuter",
    ).select(
        "view_id",
        "click_id",
        F.col("v_user").alias("user_id"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


def view_click_full_outer_stream(
    views: DataFrame,
    clicks: DataFrame,
    lookforward_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-stream FULL OUTER join: the left-outer conversion view plus
    the mirror-image orphans — clicks with NO qualifying view in the
    ``lookforward_minutes`` before them (bot clicks, lost impressions)
    emitted null-extended too. Completes the streaming join-type matrix
    (inner / leftOuter / fullOuter) over one shared time-range predicate.

    Emission semantics extend the left-outer contract symmetrically:
    matched pairs emit eagerly; an unmatched VIEW null-extends when the
    global watermark strictly passes ``v_ts + lookforward`` (its last
    possible match); an unmatched CLICK null-extends when the watermark
    strictly passes ``c_ts`` (a view matching it must have
    ``v_ts <= c_ts``, and rows at the watermark are still admissible, so
    the boundary is exclusive on both sides). The SQL oracle in
    ``plans/battery_mining.py`` states all three parts directly.

    Scale: identical state bound to the inner join (watermark +
    lookforward per side per user); outer emission is deferral, not extra
    state. Spark rejects the outer join without the time-range condition
    — that rejection is the API preventing unbounded state, not a
    limitation."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    lf = f"INTERVAL {int(lookforward_minutes)} MINUTES"
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(lf)),
        "fullOuter",
    ).select(
        "view_id",
        "click_id",
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def enrich_events_stream(
    events: DataFrame,
    dim: DataFrame,
    left_key: str = "user_id",
    right_key: str = "c_custkey",
) -> DataFrame:
    """Stream-static enrichment: broadcast-left-join each micro-batch of
    the event stream against a STATIC dimension — the standard streaming
    lookup (user→segment, ip→geo, sku→category). Stateless: no watermark,
    no state store; every emitted row equals the batch left join, which
    the oracle states directly. The static side re-broadcasts per
    micro-batch, so keep it dimension-sized (for mutable or huge sides,
    stream-stream join or a keyed state store is the right tool)."""
    return events.join(
        F.broadcast(dim), events[left_key] == dim[right_key], "left"
    )


def dedup_keys_stream(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming exact deduplication on ``keys``: the first arrival of
    each distinct key combination is emitted, later duplicates are
    dropped against one state entry per key. The emitted KEY SET equals
    the batch ``SELECT DISTINCT`` exactly (which is what the oracle
    checks); projecting to the key columns keeps the operator
    batch-equivalent regardless of which physical row arrived first.

    State here is unbounded in distinct keys — correct for a bounded
    replay and for naturally-bounded key domains; an unbounded production
    feed uses ``withWatermark`` + ``dropDuplicatesWithinWatermark``,
    trading exactness beyond the watermark horizon for bounded state.
    """
    return events.select(*keys).dropDuplicates(keys)


def dedup_keys_within_watermark_stream(
    events: DataFrame, keys: list[str], watermark: str = "40 days"
) -> DataFrame:
    """Production form of :func:`dedup_keys_stream`:
    ``dropDuplicatesWithinWatermark`` bounds state by evicting keys once
    the watermark passes them — the trade an unbounded feed requires
    (duplicates separated by MORE than the horizon are re-emitted).
    With a horizon at least as long as the replayed feed's span, no key
    can age out before end-of-stream, so the emitted key set equals the
    batch DISTINCT exactly — which is what lets the same SQL oracle
    check the bounded-state operator. The watermark column must be one
    of the dedup keys' frame columns, so ``ts`` rides along in the
    projection and the caller drops it after."""
    return (
        events.select("ts", *keys)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


SESSION_OUT = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("session_start", StringType(), True),
        StructField("session_end", StringType(), True),
        StructField("n_events", LongType(), True),
    ]
)
SESSION_STATE = StructType(
    [
        StructField("start", LongType(), True),  # session start, epoch micros
        StructField("last", LongType(), True),   # last event seen
        StructField("n", LongType(), True),      # events so far
    ]
)


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user sessionization that EMITS closed sessions and KEEPS the open
    one in state.

    Semantics match native ``session_window`` boundaries (events exactly
    ``gap`` apart merge; strictly greater starts a new session), so the
    emitted set is exactly "every session except each user's trailing open
    one" — which is what makes the operator oracle-checkable in SQL.

    The per-group function is vectorized numpy (diff → boundary mask →
    cumulative group ids), not a Python row loop; batches arrive via
    Arrow. State per key is three int64s — bounded regardless of stream
    length. Ordering contract: within one microbatch rows are sorted here;
    across microbatches events must arrive in event-time order per key
    (true for a replayed file drop; a production feed adds a watermark +
    timeout to close straggler sessions).
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000

    def close_sessions(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        parts = [pdf["ts"] for pdf in pdf_iter]
        if not parts:
            return
        ts = pd.concat(parts).sort_values()
        mic = (ts.astype("int64") // 1000).to_numpy()
        if mic.size == 0:
            return
        if state.exists:
            p_start, p_last, p_n = state.get
        else:
            p_start = p_last = p_n = None

        starts = np.empty(mic.size, dtype=bool)
        starts[0] = True
        starts[1:] = (mic[1:] - mic[:-1]) > gap_us
        first_idx = np.flatnonzero(starts)
        g_start = mic[first_idx].copy()
        g_end = mic[np.r_[first_idx[1:] - 1, mic.size - 1]]
        g_n = np.diff(np.r_[first_idx, mic.size])

        closed: list[tuple[int, int, int]] = []
        if p_last is not None and mic[0] - p_last <= gap_us:
            g_start[0] = p_start
            g_n[0] += p_n
        elif p_last is not None:
            closed.append((p_start, p_last, p_n))
        closed.extend(
            (int(g_start[i]), int(g_end[i]), int(g_n[i]))
            for i in range(len(g_start) - 1)
        )
        state.update((int(g_start[-1]), int(g_end[-1]), int(g_n[-1])))
        if closed:
            fmt = "%Y-%m-%d %H:%M:%S"
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(closed), key[0], dtype=np.int64),
                    "session_start": [
                        pd.Timestamp(c[0], unit="us").strftime(fmt) for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="us").strftime(fmt) for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            close_sessions,
            SESSION_OUT,
            SESSION_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream_native(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """Built-in ``session_window`` sessionizer (public Spark 3.2+ API) —
    the cheap sibling of ``sessionize_stream``: no Python workers, state
    merge handled by the engine's SessionWindowStateStore.

    Emission semantics differ from the custom operator: append mode
    finalizes a session when the GLOBAL watermark passes its window end
    (``last_ts + gap``), boundary INCLUSIVE (a session ending exactly at
    the final watermark IS emitted — pinned by
    ``tests/test_session_boundary.py``). With delay 0 over a replayed
    file the emitted set is exactly the sessions whose
    ``last_ts + gap <= max(ts over the whole feed)``, which is what the
    SQL oracle states. The custom operator instead withholds each user's
    trailing open session regardless of other users' clocks.

    Scale: state is bounded by the watermark horizon; the whole plan is
    JVM-native (one stateful exchange on user_id, no Arrow transfer).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{gap_minutes} minutes").alias("__w"),
        )
        .agg(
            F.min("ts").alias("__first"),
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("__first", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("__last", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


from flight_radar_pipeline_spark.pipeline.silver import merge_rollup


def idempotent_rollup_merge(
    spark,
    work_dir: str,
    keys: list[str],
    sum_cols: list[str],
    delta_agg,
):
    """foreachBatch body that maintains a rollup TABLE with EXACTLY-ONCE
    semantics across microbatch replays: version directories are keyed by
    ``batch_id`` and sealed with a ``_DONE`` marker, so a batch replayed
    after a crash/restart (Structured Streaming re-runs the last
    uncommitted batch) is detected and SKIPPED instead of double-merged —
    additive partials (``merge_rollup``) are NOT naturally idempotent,
    which is exactly the bug this protects against. A partially-written
    version without ``_DONE`` is simply overwritten by the replay.

    ``delta_agg(batch_df) -> DataFrame`` aggregates one microbatch to
    mergeable partials on ``keys``; returns (merge_batch, read_final)
    where ``read_final(spark)`` loads the latest sealed version.
    """
    import re as _re

    def _applied() -> list[int]:
        if not os.path.isdir(work_dir):
            return []
        out = []
        for d in os.listdir(work_dir):
            m = _re.fullmatch(r"b(\d+)", d)
            if m and os.path.exists(os.path.join(work_dir, d, "_DONE")):
                out.append(int(m.group(1)))
        return sorted(out)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        vdir = os.path.join(work_dir, f"b{batch_id}")
        if os.path.exists(os.path.join(vdir, "_DONE")):
            return  # replayed batch — already applied
        delta = delta_agg(batch)
        prior = [b for b in _applied() if b < batch_id]
        if prior:
            cur = batch.sparkSession.read.parquet(
                os.path.join(work_dir, f"b{prior[-1]}", "data")
            )
            delta = merge_rollup(cur, delta, keys, sum_cols)
        delta.write.mode("overwrite").parquet(os.path.join(vdir, "data"))
        with open(os.path.join(vdir, "_DONE"), "w") as fh:
            fh.write("ok")

    def read_final(spark_session):
        applied = _applied()
        return spark_session.read.parquet(
            os.path.join(work_dir, f"b{applied[-1]}", "data")
        )

    return merge_batch, read_final


def run_stream_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (`availableNow`) into a
    memory sink; return the materialized result as a batch DataFrame.

    ``complete`` mode emits the full aggregate each commit, so the final
    table equals the batch answer regardless of watermark progress (append
    mode would hold back unfinalized windows at end-of-stream).

    ``state_partitions`` pins the stateful stage's partition count for
    THIS stream (set before start, restored after): a streaming query
    fixes it at its first checkpoint, and every partition pays per-batch
    state-store open/commit overhead — measured on the stream-stream join
    at sf0.1, 32 partitions cost 7-10 s where 8 cost ~2.5 s for identical
    results. Size it to sustained state volume (cluster jobs: ~2-4× total
    cores), not to the session's batch shuffle width; results are exact
    either way, this is purely a throughput knob.
    """
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        name = f"stream_result_{uuid.uuid4().hex[:8]}"
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
