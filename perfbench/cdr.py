"""The two workloads: open loops of CDR events, one parquet file per
second, through the continuous plan (stream-static lookup join, explode,
theta as-of join, session-window max-by dedup in the state store,
size-rolled parquet sink) on a 4 s trigger, driven through
``session.get_spark`` and ``app.run`` and checked against the registered
DuckDB oracle of ``cdr_enrichment_full``.

``cdr_stream_steady`` — 2,000 events/s: a micro-batch holds 8k events,
so per-row join, dedup and write work adds to the fixed per-batch cost.

``cdr_stream_light`` — 500 events/s: the fixed per-batch cost (planning,
state-store commit, WAL, sink commit) is nearly all a row waits for.
Its traced run also times the registered batch CDR plans
(``registry_probe``), the catalog and plan layers.
"""

from __future__ import annotations

import dataclasses
import glob
import math
import os
import subprocess
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import stats
from tracing import MB, Tracer, progress_counters, read_status_store, scope_counters

GAP_S, WATERMARK_S = 1, 2
LATE_LIMIT_S = 0.5  # a file released later than this invalidates the run
FLUSH_ID = 1  # unique_cdr_id of the open loop's watermark-flush event

STEADY = gen.Shape(
    subscribers=20_000, ips=3_000, versions=2, events_per_file=2_000, dim_history_s=3_600, dim_future_s=60
)
LIGHT = dataclasses.replace(STEADY, events_per_file=500)
# Spark fires processing-time triggers at epoch multiples of the interval;
# the schedule releases every fourth file 0.1 s before a trigger, so the
# wait for the trigger is fixed by the schedule, not by run-to-run timing
TRIGGER_S = 4
# open-loop seconds before the measured window, discarded: the batch the
# query starts with (file 0) and the first triggered one (files 1-3), so
# the window starts on a trigger boundary
WARMUP_S = 4
# seconds after the window; the flush event that follows them lands in
# the batch after the window's last, which closes the window's sessions
TAIL_S = 3

CANONICAL = [
    "epoch_us(start_time) AS start_us",
    "measuring_probe_name",
    "imsi",
    "msisdn",
    "ms_ip_address",
    "unique_cdr_id",
    "CAST(event_date AS VARCHAR) AS event_date",
    "probe",
]


@dataclass
class Outcome:
    metrics: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    valid: bool
    notes: list[str] = field(default_factory=list)


class Engine:
    """Owns the Spark session of one invocation and the JVM it runs in.
    Every ``start`` is cold: it stops the previous session and its JVM,
    then launches a new JVM, as a user's first ``get_spark`` does."""

    def __init__(self, tmp: str) -> None:
        self.tmp = tmp
        self.spark = None

    def start(self):
        from flink_application_spark.session import get_spark

        self.close()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.hadoop.hadoop.tmp.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            # the next SparkContext launches a fresh gateway and JVM
            SparkContext._gateway = None
            SparkContext._jvm = None


# --- oracle ---------------------------------------------------------------


def oracle_sql(src: str, dims: dict[str, str], exclude_id: int) -> str:
    """The registered oracle of ``cdr_enrichment_full`` with its fixture
    views (derived from the catalog's ``events`` table) replaced by the
    generated parquet inputs."""
    from flink_application_spark.plans.cdr import fixture_cte
    from flink_application_spark.plans.registry import REGISTRY_GET

    sql = REGISTRY_GET("cdr_enrichment_full").oracle
    prefix = fixture_cte("cdr_src", "imsi_msisdn", "ms_ip")
    if not sql.startswith(prefix):
        raise RuntimeError("cdr_enrichment_full oracle no longer starts with its fixture views")
    return (
        f"WITH cdr_src AS (SELECT * FROM read_parquet('{src}') WHERE unique_cdr_id <> {exclude_id}),\n"
        f"imsi_msisdn AS (SELECT * FROM read_parquet('{dims['imsi_msisdn']}/*.parquet')),\n"
        f"ms_ip AS (SELECT * FROM read_parquet('{dims['ms_ip']}/*.parquet'))"
        + sql[len(prefix) :]
    )


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def expect(con, src: str, dims: dict[str, str]) -> int:
    """Materialize the oracle output as table ``expected``; returns rows."""
    cols = ", ".join(CANONICAL)
    con.execute(f"CREATE OR REPLACE TABLE expected AS SELECT {cols} FROM ({oracle_sql(src, dims, FLUSH_ID)})")
    return con.execute("SELECT count(*) FROM expected").fetchone()[0]


def committed_files(sink: str) -> list[str]:
    files = []
    for d in sorted(glob.glob(os.path.join(sink, "_batch=*"))):
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            files += glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    return files


def mismatched(con, sink: str) -> tuple[int, int]:
    """Rows (missing, extra) of the sink against ``expected``, compared
    as multisets of canonical columns."""
    files = committed_files(sink)
    if not files:
        return con.execute("SELECT count(*) FROM expected").fetchone()[0], 0
    cols = ", ".join(CANONICAL)
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT {cols} FROM read_parquet({files!r}, hive_partitioning = true)")
    missing = con.execute("SELECT count(*) FROM (FROM expected EXCEPT ALL FROM got)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (FROM got EXCEPT ALL FROM expected)").fetchone()[0]
    return missing, extra


class SinkWatcher:
    """Counts committed sink rows from parquet footers, reading each
    committed ``_batch`` directory once; ``last_batch`` is the highest
    committed micro-batch id."""

    def __init__(self, sink: str) -> None:
        self.sink = sink
        self.rows = 0
        self.last_batch = -1
        self.files: dict[str, int] = {}
        self._seen: set[str] = set()

    def poll(self) -> int:
        for d in glob.glob(os.path.join(self.sink, "_batch=*")):
            if d in self._seen or not os.path.exists(os.path.join(d, "_SUCCESS")):
                continue
            self._seen.add(d)
            self.last_batch = max(self.last_batch, int(d.rsplit("=", 1)[1]))
            for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
                self.rows += pq.ParquetFile(f).metadata.num_rows
                self.files[f] = os.path.getsize(f)
        return self.rows


def sink_layers(watchers: list[SinkWatcher]) -> dict[str, float]:
    sizes = [s for w in watchers for s in w.files.values()]
    n = max(len(watchers), 1)
    return {
        "streaming.sinks.files": len(sizes) / n,
        "streaming.sinks.mb": sum(sizes) / n / MB,
        "streaming.sinks.max_file_mb": max(sizes, default=0) / MB,
    }


def runtime_layers(spark, tracer: Tracer, groups: set[str], progress: list[dict]) -> dict[str, float]:
    """Status-store counters of the measured queries' jobs, and their
    micro-batch phases and state-store metrics."""
    with tracer.span("status_store.read", "layers"):
        jobs, stages = read_status_store(spark)
    c = scope_counters(jobs, stages, groups)
    p = progress_counters(progress)
    batches = max(p["batches"], 1)
    out = {f"spark.{k}": v for k, v in c.items()}
    out["spark.jobs_per_batch"] = c["jobs"] / batches
    out["spark.tasks_per_batch"] = c["tasks"] / batches
    out["python_worker.gap_s"] = c["task_run_s"] - c["task_cpu_s"]
    out["sources.latest_offset_ms"] = p["latest_offset_ms"]
    out["sources.get_batch_ms"] = p["get_batch_ms"]
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms", "batches", "rows_per_batch"):
        out[f"streaming.{k}"] = p[k]
    for k in ("state_rows", "state_mb", "state_commit_pct", "watermark_dropped"):
        out[f"streaming.dedup.{k}"] = p[k]
    return out


def batch_spans(tracer: Tracer, progress: list[dict], trace_prefix: str) -> None:
    for p in progress:
        commit = stats.progress_commit_s(p)
        d = p["durationMs"]
        tracer.add(
            "streaming.batch",
            commit - d["triggerExecution"] / 1000.0,
            commit,
            f"{trace_prefix}-batch-{p['batchId']}",
            rows=p["numInputRows"],
            phases_ms=d,
        )


def setup(engine: Engine, tracer: Tracer, warm) -> tuple[float, float]:
    """The one-time cost a user pays: a cold session start (JVM launch
    included), then ``warm(spark)``. Returns (total, session start) s."""
    with tracer.span("setup", "setup"):
        t = time.perf_counter()
        with tracer.span("session.start", "setup"):
            spark = engine.start()
        start = time.perf_counter() - t
        with tracer.span("warmup", "setup"):
            warm(spark)
        return time.perf_counter() - t, start


def latency_metrics(direct: np.ndarray, asof: np.ndarray) -> dict[str, float]:
    return {
        "latency_direct_p50_s": float(np.percentile(direct, 50)),
        "latency_direct_p90_s": float(np.percentile(direct, 90)),
        "latency_asof_p50_s": float(np.percentile(asof, 50)),
        "latency_asof_p90_s": float(np.percentile(asof, 90)),
    }


def collect_progress(q, into: dict[int, dict]) -> None:
    for p in q.recentProgress:
        into[p["batchId"]] = p


# --- open-loop streams -------------------------------------------------------


def steady(engine: Engine, work: str, seed: int, seconds: int, tracer: Tracer) -> Outcome:
    return stream(STEADY, engine, work, seed, seconds, tracer)


def light(engine: Engine, work: str, seed: int, seconds: int, tracer: Tracer) -> Outcome:
    out = stream(LIGHT, engine, work, seed, seconds, tracer)
    if tracer.enabled:
        import registry_probe

        layers, attempted, failed, notes = registry_probe.probe(engine.spark, work, seed, tracer)
        out.layers |= layers
        out.attempted += attempted
        out.failed += failed
        out.notes += notes
    return out


def stream(shape: gen.Shape, engine: Engine, work: str, seed: int, seconds: int, tracer: Tracer) -> Outcome:
    from flink_application_spark.app import run

    n_files = WARMUP_S + seconds + TAIL_S
    with tracer.span("gen", "gen"):
        dims = gen.write_dims(shape, seed, os.path.join(work, "dims"))
        files = [gen.parquet_bytes(gen.event_table(shape, seed, k)) for k in range(n_files)]
        files.append(gen.parquet_bytes(gen.flush_table(shape, n_files + 3_600, FLUSH_ID)))
        # the oracle reads the same bytes the open loop will release
        oracle_src = os.path.join(work, "oracle_src")
        os.makedirs(oracle_src)
        for k, data in enumerate(files[:-1]):
            with open(os.path.join(oracle_src, f"cdr-{k:06d}.parquet"), "wb") as f:
                f.write(data)
    con = connect()
    with tracer.span("oracle.expect", "check"):
        n_expected = expect(con, os.path.join(oracle_src, "*.parquet"), dims)

    def config(name: str, trigger: str | None) -> dict:
        d = os.path.join(work, name)
        return {
            "mode": "streaming",
            "source": {"format": "parquet", "path": os.path.join(d, "src")},
            "dims": dims,
            "sink": {
                "format": "parquet",
                "path": os.path.join(d, "sink"),
                "checkpoint": os.path.join(d, "ckpt"),
                "partition_by": ["event_date", "probe"],
                "sink.rolling-policy.file-size": 110 * 1024 * 1024,
                "trigger": trigger,
            },
            "dedup": {"gap": f"{GAP_S} seconds", "watermark": f"{WATERMARK_S} seconds"},
        }

    def warm(spark) -> None:
        # two seconds of events from far outside the measured input,
        # drained by the same continuous plan
        cfg = config("warm", None)
        gen.write_events(shape, seed, range(100_000, 100_002), cfg["source"]["path"])
        q = run(spark, cfg)
        q.awaitTermination(120)

    setup_s, start_s = setup(engine, tracer, warm)
    spark = engine.spark

    cfg = config("measured", f"{TRIGGER_S} seconds")
    src = cfg["source"]["path"]
    progress: dict[int, dict] = {}
    watcher = SinkWatcher(cfg["sink"]["path"])
    # the source produces on its own schedule; the job starts once the
    # first file is there to give the file source its schema
    # (the earliest trigger that leaves file 0 due at least 0.2 s ahead)
    trigger = math.ceil((time.time() + TRIGGER_S - 0.7) / TRIGGER_S) * TRIGGER_S
    t0 = trigger - TRIGGER_S - 0.1
    loop = gen.OpenLoop(files, os.path.join(work, "staging"), src, t0)
    loop.start()
    while not loop.lateness_s:
        time.sleep(0.01)
    with tracer.span("app.run", "stream"):
        t = time.perf_counter()
        q = run(spark, cfg)
        run_s = time.perf_counter() - t
    with tracer.span("stream", "stream"):
        deadline = t0 + len(files) + 30
        while time.time() < deadline:
            time.sleep(0.2)
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            collect_progress(q, progress)
            # the sink commits inside a micro-batch, before the batch's
            # offsets and progress: stop only once the progress of the
            # last committed batch (its commit time) has been reported
            done = len(loop.lateness_s) == len(files) and watcher.poll() >= n_expected
            if done and watcher.last_batch in progress:
                break
        loop.stop()
        collect_progress(q, progress)
        q.stop()
        collect_progress(q, progress)

    with tracer.span("oracle.check", "check"):
        missing, extra = mismatched(con, cfg["sink"]["path"])
        rows = con.execute(
            f"""SELECT g._batch AS batch, epoch_us(g.start_time) AS start_us, e.imsi IS NOT NULL AS direct
                FROM read_parquet({committed_files(cfg['sink']['path'])!r}, hive_partitioning = true) g
                JOIN read_parquet('{oracle_src}/*.parquet') e
                  ON g.unique_cdr_id = e.unique_cdr_id AND epoch_us(g.start_time) = epoch_us(e.start_time)"""
        ).fetchnumpy()
    batch = rows["batch"].astype(np.int64)
    offset_s = (rows["start_us"].astype(np.int64) - gen.BASE_US) / gen.US
    direct = rows["direct"].astype(bool)
    window = (offset_s >= WARMUP_S) & (offset_s < WARMUP_S + seconds)
    commits = {b: stats.progress_commit_s(p) for b, p in progress.items()}
    delay = np.where(direct, 0.0, GAP_S + WATERMARK_S)
    lat = stats.attribute_latency(batch[window], t0 + offset_s[window], commits, delay[window])
    dw = direct[window]
    grew = stats.backlog_grew(offset_s[window][dw], lat[dw])
    metrics = latency_metrics(lat[dw], lat[~dw])
    window_end = max(commits[int(b)] for b in batch[window][dw])
    metrics["events_per_s"] = seconds * shape.events_per_file / (window_end - (t0 + WARMUP_S))
    metrics["setup_s"] = setup_s

    late = max(loop.lateness_s)
    for k, late_s in enumerate(loop.lateness_s):
        tracer.add("gen.release", t0 + k + 1, t0 + k + 1 + late_s, f"file-{k}")
    batch_spans(tracer, list(progress.values()), "stream")
    layers = {"session.start_s": start_s, "app.run_s": run_s}
    if tracer.enabled:
        layers |= runtime_layers(spark, tracer, {str(q.runId)}, list(progress.values()))
        layers |= sink_layers([watcher])
    layers["gen.events"] = n_files * shape.events_per_file
    notes = [f"rows checked {n_expected}, missing {missing}, extra {extra}",
             f"latency samples: direct {int(dw.sum())}, as-of {int((~dw).sum())}, "
             f"micro-batches {len(set(batch[window].tolist()))}; micro-batches beyond "
             f"p50/p90: direct {stats.units_beyond(lat[dw], batch[window][dw], 50)}/"
             f"{stats.units_beyond(lat[dw], batch[window][dw], 90)}, as-of "
             f"{stats.units_beyond(lat[~dw], batch[window][~dw], 50)}/"
             f"{stats.units_beyond(lat[~dw], batch[window][~dw], 90)}",
             f"generator max lateness {late:.3f} s (limit {LATE_LIMIT_S} s)"]
    if grew:
        notes.append("backlog grew over the measured window")
    return Outcome(metrics, layers, n_expected, missing + extra, late <= LATE_LIMIT_S and not grew, notes)
