"""Benchmark of the medallion pipeline, its six answers and an operator slice.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload hourly_snapshots --seed 1 --seconds 15 --trace 0

One run is one fresh process on ``local[4]``. Every workload has a write
side and a read side:

- ``hourly_snapshots`` and ``bulk_backfill``: a write is one
  ``pipeline.run_pipeline`` call that appends one more batch to the lake;
  a read is one pass that reads gold back and collects all six answers of
  ``plans.queries.QUERIES``.
- ``operator_slice``: a pass runs two entries of ``__spark_entry__.queries()``
  through the noop sink. The write is ``orders_cdc_stream_apply`` (a
  streaming CDC fold that lands state versions), the read is
  ``entity_pagerank`` (a graph loop).

A run lands its seeded inputs on disk, starts the session and runs
untimed warm-up operations (the set-up), then the timed ones, then its
correctness checks against DuckDB (``oracle.py``). A failed check fails
the run. ``--seconds`` fixes the number of timed operations, never the
machine's speed, so every run of a workload does the same work.

The last line of standard output is a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (Spark event log
on, spans tied to Spark jobs through job groups; see ``tracing.py`` and
README.md). The metric names and units are those of ``BENCHMARK.json``.
Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402  (the benchmark's own module, beside this file)

CORES = 4
WORK_DIR = ".perfbench_work"
RESULTS_DIR = ".perfbench_results"
LAYERS = ("bronze", "silver", "gold")
WRITE_TARGETS = {
    "/flights/bronze": "bronze",
    "/flights/silver": "silver",
    "/flights/gold": "gold",
    "/dims/": "dims",
}
SLICE_WRITE = "orders_cdc_stream_apply"
SLICE_READ = "entity_pagerank"
SLICE_ORDERS = 15_000  # orders rows; lineitem has about four times as many


@dataclass(frozen=True)
class Workload:
    kind: str  # "medallion" or "slice"
    warm: int  # untimed write operations (the first also creates the dimensions)
    rows: int = 0  # distinct flights per batch (re-sends come on top)
    fetch: bool = False  # through the fake zone client, else a raw parquet file drop


WORKLOADS = {
    "hourly_snapshots": Workload("medallion", warm=2, rows=20_000, fetch=True),
    "bulk_backfill": Workload("medallion", warm=2, rows=60_000),
    "operator_slice": Workload("slice", warm=1),
}
MIN_TIMED = 2
ROUND_S = 7.5  # seconds of a run's timed part per timed write, roughly, on 4 cores
ANSWER_WARM = 3  # untimed answer passes over the final lake
ANSWER_TIMED = 2


def _note(t_proc: float, what: str) -> None:
    """Progress on standard error, seconds since the process started."""
    print(f"[{time.time() - t_proc:7.2f}s] {what}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.startswith("part-")
    return total, files


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def tree_digest() -> str:
    """Digest of the program and benchmark sources, so that kept figures
    are only compared with figures of the same code."""
    h = hashlib.sha256()
    for top in ("flight_radar_pipeline_spark", "perfbench", "__spark_entry__.py"):
        paths = [os.path.join(ROOT, top)] if top.endswith(".py") else sorted(
            os.path.join(d, n)
            for d, _, names in os.walk(os.path.join(ROOT, top))
            for n in names
            if n.endswith(".py")
        )
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Meter:
    """Spans (through the tracer), CPU seconds and bytes written of each
    named operation.

    CPU seconds are user+system time of the whole process tree (the
    Python driver, the JVM, the Python workers) less the JVM's JIT
    compiler threads: compiling is warm-up, and how much of it lands in
    one operation varies from run to run. Bytes written are what the
    tree passes to write calls (``tracing.tree_write_bytes``)."""

    def __init__(self, tracer: tr.Tracer) -> None:
        self.tracer = tracer
        self.cpu: dict[str, float] = {}
        self.gc: dict[str, float] = {}  # of which the VM thread, which runs the collector
        self.written: dict[str, int] = {}

    @staticmethod
    def _probe() -> tuple[float, float, int]:
        cpu = tr.tree_cpu_s() - tr.threads_cpu_s(tr.JIT_THREADS)
        return cpu, tr.threads_cpu_s(tr.GC_THREADS), tr.tree_write_bytes()

    @contextmanager
    def op(self, name: str):
        c0, g0, w0 = self._probe()
        with self.tracer.span(name):
            yield
        c1, g1, w1 = self._probe()
        self.cpu[name], self.gc[name], self.written[name] = c1 - c0, g1 - g0, w1 - w0

    def note(self, t_proc: float, what: str, ops: list[str]) -> None:
        _note(t_proc, f"{what}: wall s, cpu s, of which VM thread (GC), bytes written")
        for o in ops:
            print(
                f"  {o:40s} {self.tracer.seconds(o):6.2f} {self.cpu[o]:6.2f}"
                f" {self.gc[o]:6.2f} {self.written[o]:10d}",
                file=sys.stderr,
            )


def start_spark(work: str, trace: bool):
    from flight_radar_pipeline_spark.session import get_spark_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        # compiler threads stay alive, so their CPU can be read and left
        # out; the serial collector does the same collection work in every
        # run, where G1's parallel and concurrent threads spin and start
        # marking cycles at different points (see README.md)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC -Xms2g"
        ),
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update(tr.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
    spark = get_spark_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        timezone="UTC",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM and the Python workers it started
    have all exited."""
    started = tr.process_tree()[1:]
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(tr.alive(pid) for pid in started):
        if time.time() > deadline:
            for pid in started:
                if tr.alive(pid):
                    os.kill(pid, signal.SIGKILL)
            break
        time.sleep(0.1)


@dataclass
class Outcome:
    """What a workload's run hands back for the report."""

    setup_s: float
    writes: list[str]  # timed write operations
    reads: list[str]  # timed read operations
    failures: list[str]
    attempted: int
    per_layer: dict[str, float]  # filled only by traced runs


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t_proc = tr.process_start_epoch()
    wl = WORKLOADS[workload]
    timed = max(MIN_TIMED, round(seconds / ROUND_S))
    work = os.path.join(ROOT, WORK_DIR, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    meter = Meter(tr.Tracer(enabled=trace))
    try:
        body = run_medallion if wl.kind == "medallion" else run_slice
        out = body(wl, seed, timed, trace, work, meter, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in out.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    meter.note(t_proc, "all operations, warm-up ones first", list(meter.cpu))

    wall = {
        "write_s": median(meter.tracer.seconds(o) for o in out.writes),
        "read_s": median(meter.tracer.seconds(o) for o in out.reads),
        "write_cpu_s": median(meter.cpu[o] for o in out.writes),
        "read_cpu_s": median(meter.cpu[o] for o in out.reads),
    }
    record = {"tree": tree_digest(), "seed": seed, **wall}
    if trace:
        os.makedirs(os.path.join(ROOT, RESULTS_DIR), exist_ok=True)
        meter.tracer.dump(os.path.join(ROOT, RESULTS_DIR, f"spans-{workload}-{seed}.json"))
        report_overhead(workload, record, t_proc)
        values = {**out.per_layer, "trace.write_s": wall["write_s"], "trace.read_s": wall["read_s"]}
        units = metric_units("per_layer")
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer a workload does not use reads 0 there
        metrics = {k: (values.get(k, 0.0), u) for k, u in units.items()}
    else:
        save_record(workload, record)
        values = {
            "setup_s": out.setup_s,
            "write_cpu_s": wall["write_cpu_s"],
            "read_cpu_s": wall["read_cpu_s"],
            "written_bytes": median(meter.written[o] for o in out.writes),
        }
        metrics = {k: (values[k], u) for k, u in metric_units("end_to_end").items()}
    return {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# --- medallion workloads -------------------------------------------------


def land_flights(wl: Workload, seed: int, batches: int, work: str):
    """Generate every batch and land it as a parquet file, before any timing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen

    dims = gen.dimensions(seed)
    os.makedirs(f"{work}/raw")
    frames, paths = [], {}
    for b in range(batches):
        df = gen.raw_flights(seed, b, wl.rows, dims)
        paths[f"b{b:02d}"] = path = f"{work}/raw/b{b:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        frames.append(df)
    clients = [gen.FakeZoneClient(df) for df in frames] if wl.fetch else None
    return dims, paths, clients


def run_medallion(wl, seed, timed, trace, work, meter, t_proc) -> Outcome:
    from flight_radar_pipeline_spark import schemas
    from flight_radar_pipeline_spark.functions.continents import COUNTRY_TO_CONTINENT
    from flight_radar_pipeline_spark.pipeline.runner import run_pipeline
    from flight_radar_pipeline_spark.plans.queries import QUERIES
    from flight_radar_pipeline_spark.sources.readers import read_parquet

    import oracle

    batches = wl.warm + timed
    lake = f"{work}/lake"
    dims, raw_paths, clients = land_flights(wl, seed, batches, work)
    _note(t_proc, f"inputs landed: {batches} batches of {wl.rows} flights")
    tracer = meter.tracer
    with tracer.span("session"):
        spark = start_spark(work, trace)
    tracer.sc = spark.sparkContext
    _note(t_proc, "session started")
    run_info: dict[str, dict] = {}

    def batch(b: int) -> None:
        run_id = f"b{b:02d}"
        kw = {}
        if b == 0:  # dimensions are get-or-create: written by the first batch only
            kw = {"fetch_airlines": dims.airline_rows, "fetch_airports": dims.airport_rows}
        if wl.fetch:
            kw["fetch_flights"] = clients[b]
        else:
            kw["flights_raw"] = read_parquet(spark, raw_paths[run_id], schemas.FLIGHTS_RAW)
        with meter.op(f"batch:{run_id}"):
            res = run_pipeline(spark, lake, run_id=run_id, **kw)
        run_info[run_id] = res.run_info

    def answers(p: int) -> dict[str, list[dict]]:
        out = {}
        with meter.op(f"answers:{p}"):
            with tracer.span(f"q:{p}:read"):
                gold = read_parquet(spark, f"{lake}/flights/gold")
            for name, fn in QUERIES.items():
                with tracer.span(f"q:{p}:{name}"):
                    out[name] = [r.asDict() for r in fn(gold).collect()]
        return out

    try:
        for b in range(wl.warm):
            batch(b)
        setup_s = time.time() - t_proc
        _note(t_proc, f"{wl.warm} warm-up batches done")
        for b in range(wl.warm, batches):
            batch(b)
        _note(t_proc, f"{timed} timed batches done")
        t0 = time.time()
        for p in range(ANSWER_WARM):  # over the final lake, counted as set-up
            answers(p)
        setup_s += time.time() - t0
        for p in range(ANSWER_WARM, ANSWER_WARM + ANSWER_TIMED):
            result = answers(p)
        jvm_rss = tr.jvm_peak_rss_mb()
        _note(t_proc, f"warm-up and {ANSWER_TIMED} timed answer passes done")
    finally:
        stop_spark(spark)

    con = oracle.connect(dims, COUNTRY_TO_CONTINENT, raw_paths)
    failures = oracle.check_lake(con, lake, run_info, served=wl.fetch)
    failures += oracle.check_answers(con, result)
    con.close()
    _note(t_proc, f"checks done, {len(failures)} failed")

    writes = [f"batch:b{b:02d}" for b in range(wl.warm, batches)]
    passes = range(ANSWER_WARM, ANSWER_WARM + ANSWER_TIMED)
    out = Outcome(
        setup_s=setup_s,
        writes=writes,
        reads=[f"answers:{p}" for p in passes],
        failures=failures,
        # every batch and every answer pass is one operation, warm-up ones too
        attempted=batches + ANSWER_WARM + ANSWER_TIMED,
        per_layer={},
    )
    if trace:
        out.per_layer = medallion_layers(
            tracer, work, wl, writes, passes, raw_paths, lake, clients[wl.warm:] if clients else []
        )
        out.per_layer["session.jvm_peak_rss_mb"] = jvm_rss
    return out


def medallion_layers(tracer, work, wl, timed, passes, raw_paths, lake, fetched) -> dict:
    from flight_radar_pipeline_spark.plans.queries import QUERIES

    log = tr.parse_event_log(
        tr.find_event_log(f"{work}/eventlog"), WRITE_TARGETS, tracer.spans
    )
    print(f"event log: {log.ungrouped_jobs} jobs outside every span", file=sys.stderr)
    n = len(timed)
    batches = len(raw_paths)
    m: dict[str, float] = {"session.start_s": tracer.seconds("session")}

    # sources: fetch_all's own time, without the fake client's
    fetch_s = [(c.last_end - c.first_start) - c.busy_s for c in fetched] or [0.0] * n
    m["sources.fetch_all_s"] = sum(fetch_s) / n
    m["sources.zone_fetches"] = sum(c.calls for c in fetched) / n

    def work(groups, target=None) -> tr.Work:
        w = tr.Work()
        for g in groups:
            part = log.by_group.get(g) if target is None else log.writes.get((g, target))
            w += part or tr.Work()
        return w

    def write_s(groups, target) -> float:
        return sum(log.write_s.get((g, target), 0.0) for g in groups)

    layer = {name: _dir_bytes(f"{lake}/flights/{name}") for name in LAYERS}
    writes = {t: work(timed, t) for t in LAYERS}
    for t in LAYERS:
        m[f"sinks.{t}_write_s"] = write_s(timed, t) / n
        m[f"sinks.{t}_bytes"] = layer[t][0] / batches
        m[f"pipeline.{t}_cpu_s"] = writes[t].cpu_s / n
    m["sinks.dims_write_s"] = write_s(["batch:b00"], "dims")
    m["sinks.gold_files"] = layer["gold"][1]

    batch_work = work(timed)
    # rows ingested: the raw files of the file drop (the fetched snapshots
    # come from driver memory, which Spark does not count as read)
    ingested = 0
    if not wl.fetch:
        import pyarrow.parquet as pq

        ingested = sum(pq.read_metadata(raw_paths[g.split(":")[1]]).num_rows for g in timed)
    raw_read = sum(writes[t].records_read for t in LAYERS)
    m["pipeline.raw_read_ratio"] = raw_read / ingested if ingested else 0.0
    m["pipeline.shuffle_write_bytes"] = batch_work.shuffle_write_bytes / n
    m["pipeline.gc_s"] = batch_work.gc_s / n
    m["pipeline.spill_bytes"] = batch_work.spill_bytes / n
    m["pipeline.jobs"] = batch_work.jobs / n
    m["pipeline.tasks"] = batch_work.tasks / n
    # what the batch span does besides the three writes and the fetch
    m["pipeline.self_s"] = median(
        tracer.seconds(g) - sum(log.write_s.get((g, t), 0.0) for t in LAYERS) - fetch_s[i]
        for i, g in enumerate(timed)
    )
    for name in QUERIES:
        m[f"queries.{name}_s"] = median(tracer.seconds(f"q:{p}:{name}") for p in passes)
    q = work([f"q:{p}:{name}" for p in passes for name in QUERIES])
    m["queries.rows_read"] = q.records_read / len(passes)
    m["queries.jobs"] = q.jobs / len(passes)
    return m


# --- operator slice --------------------------------------------------------


def run_slice(wl, seed, timed, trace, work, meter, t_proc) -> Outcome:
    import __spark_entry__

    import gen
    import oracle

    tables = f"{work}/tables"
    os.makedirs(tables)
    gen.tpch_tables(seed, SLICE_ORDERS, tables)
    # the stream entries make their scratch directories here (the
    # program's default is /dev/shm); what a pass leaves is counted
    scratch = f"{work}/stream-scratch"
    os.makedirs(scratch)
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = scratch
    _note(t_proc, f"inputs landed: {SLICE_ORDERS} orders")
    tracer = meter.tracer
    with tracer.span("session"):
        spark = start_spark(work, trace)
    tracer.sc = spark.sparkContext
    _note(t_proc, "session started")
    entries = {n: __spark_entry__.queries()[n] for n in (SLICE_WRITE, SLICE_READ)}
    passes = wl.warm + timed
    left: list[tuple[int, int]] = []  # (entries, bytes) new in the scratch dir, per pass

    def one_pass(p: int) -> dict:
        dfs = {}
        before = set(os.listdir(scratch))
        for name, fn in entries.items():
            with meter.op(f"slice:{p}:{name}"):
                with tracer.span(f"slice:{p}:{name}:build"):
                    dfs[name] = fn(spark, tables)
                with tracer.span(f"slice:{p}:{name}:exec"):
                    dfs[name].write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        new = set(os.listdir(scratch)) - before
        left.append((len(new), sum(_dir_bytes(f"{scratch}/{d}")[0] for d in new)))
        return dfs

    try:
        for p in range(wl.warm):
            one_pass(p)
        setup_s = time.time() - t_proc
        _note(t_proc, f"{wl.warm} warm-up passes done")
        for p in range(wl.warm, passes):
            dfs = one_pass(p)
        jvm_rss = tr.jvm_peak_rss_mb()
        _note(t_proc, f"{timed} timed passes done")
        # the last pass's results, read after the timing for the checks
        with tracer.span("collect"):
            results = {name: df.toPandas() for name, df in dfs.items()}
    finally:
        stop_spark(spark)

    sqls = __spark_entry__.oracle_sql()
    failures = oracle.check_entries(tables, {n: sqls[n] for n in entries}, results)
    _note(t_proc, f"checks done, {len(failures)} failed")
    timed_passes = range(wl.warm, passes)
    out = Outcome(
        setup_s=setup_s,
        writes=[f"slice:{p}:{SLICE_WRITE}" for p in timed_passes],
        reads=[f"slice:{p}:{SLICE_READ}" for p in timed_passes],
        failures=failures,
        attempted=passes * len(entries),  # every entry run, warm-up ones too
        per_layer={},
    )
    if trace:
        out.per_layer = slice_layers(tracer, work, list(entries), timed_passes, left[wl.warm:])
        out.per_layer["session.jvm_peak_rss_mb"] = jvm_rss
    return out


def slice_layers(tracer, work, names, passes, left) -> dict:
    log = tr.parse_event_log(tr.find_event_log(f"{work}/eventlog"), {}, tracer.spans)
    print(f"event log: {log.ungrouped_jobs} jobs outside every span", file=sys.stderr)
    n = len(passes)
    m: dict[str, float] = {"session.start_s": tracer.seconds("session")}
    total = tr.Work()
    for name in names:
        for step in ("build", "exec"):
            groups = [f"slice:{p}:{name}:{step}" for p in passes]
            m[f"battery.{name}.{step}_s"] = median(tracer.seconds(g) for g in groups)
            w = tr.Work()
            for g in groups:
                w += log.by_group.get(g) or tr.Work()
            m[f"battery.{name}.jobs"] = m.get(f"battery.{name}.jobs", 0.0) + w.jobs / n
            total += w
    m["battery.executor_cpu_s"] = total.cpu_s / n
    m["battery.shuffle_write_bytes"] = total.shuffle_write_bytes / n
    m["battery.spill_bytes"] = total.spill_bytes / n
    m["streaming.scratch_dirs_left"] = sum(d for d, _ in left) / n
    m["streaming.scratch_bytes_left"] = sum(b for _, b in left) / n
    return m


# --- records ---------------------------------------------------------------


def _record_path(workload: str) -> str:
    return os.path.join(ROOT, RESULTS_DIR, f"{workload}.jsonl")


def save_record(workload: str, record: dict) -> None:
    """Keep an untraced run's figures, so a traced run of the same code
    and seed can report its overhead."""
    os.makedirs(os.path.join(ROOT, RESULTS_DIR), exist_ok=True)
    with open(_record_path(workload), "a") as fh:
        fh.write(json.dumps(record) + "\n")


def report_overhead(workload: str, record: dict, t_proc: float) -> None:
    """The traced run's figures against the median of the untraced runs of
    the same sources and seed kept in this checkout, on standard error.
    Without such runs there is nothing to compare with, and it says so."""
    try:
        with open(_record_path(workload)) as fh:
            recs = [json.loads(line) for line in fh]
    except FileNotFoundError:
        recs = []
    recs = [r for r in recs if r.get("tree") == record["tree"] and r["seed"] == record["seed"]]
    if not recs:
        _note(t_proc, "trace overhead: no untraced run of these sources and seed to compare with")
        return
    parts = [
        f"{k} {100 * (record[k] / median(r[k] for r in recs) - 1):+.1f}%"
        for k in ("write_cpu_s", "read_cpu_s", "write_s", "read_s")
    ]
    _note(t_proc, f"trace overhead against {len(recs)} untraced run(s): " + ", ".join(parts))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flight_radar_pipeline_spark")):
        print(f"no program sources under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out))
    return 0 if out["correct"] else 1  # a failed check fails the run


if __name__ == "__main__":
    sys.exit(main())
