"""The registered CDR batch plans, timed in the traced run of
``cdr_stream_light`` for the catalog and plan layers: each plan is built
with ``REGISTRY_GET(name).spark(spark, sf_dir)`` (which reads its input
through ``catalog.load_table``) and written to the ``noop`` sink, one
after the other, by one client.

The input is a seeded ``events.parquet`` in the sf0.1 testdata's shape;
the plans derive the CDR source and both dimensions from it with their
registered fixture SQL. Every plan's rows are checked once, as a
multiset, against its registered DuckDB oracle on the same file.

These timings feed no end-to-end metric. As a workload of its own the
suite spread too widely from run to run (quartile spread 0.24-0.64 of
the median over 5-10 seeds on a 4-vCPU VM, where a whole run could be 2x
slower than the next) for any bound the benchmark may set.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from cdr import connect
from tracing import Tracer, read_status_store, scope_counters

EVENTS, USERS = 10_000, 1_500
QUERIES = (
    "cdr_exploded",
    "cdr_enrich_path_a",
    "cdr_enrich_path_b",
    "cdr_enrich_path_b_asof",  # pandas merge-as-of per key: Python workers
    "cdr_enrichment_full",
)
# noop passes before the timed ones (in one JVM a pass keeps getting
# faster over its first five or so, 1.4x in all); few enough that the
# traced run stays well inside its time limit on a contended VM
WARM_PASSES, PASSES = 1, 2


def mismatched(con, oracle: str, out_dir: str) -> tuple[int, int]:
    """Rows (missing, extra) of a plan's parquet output against its
    oracle SQL, compared as multisets over the output's columns."""
    got = f"read_parquet('{out_dir}/*.parquet')"
    cols = ", ".join(f'"{r[0]}"' for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
    con.execute(f"CREATE OR REPLACE TABLE expected AS SELECT {cols} FROM ({oracle})")
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT {cols} FROM {got}")
    missing = con.execute("SELECT count(*) FROM (FROM expected EXCEPT ALL FROM got)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (FROM got EXCEPT ALL FROM expected)").fetchone()[0]
    return missing, extra


class LoadTableProbe:
    """Times every ``catalog.load_table`` call while installed (plans
    reach it through ``catalog.register_views``)."""

    def __init__(self) -> None:
        self.seconds = 0.0

    def __enter__(self) -> "LoadTableProbe":
        from flink_application_spark import catalog

        self._orig = catalog.load_table

        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t

        catalog.load_table = timed
        return self

    def __exit__(self, *exc) -> None:
        from flink_application_spark import catalog

        catalog.load_table = self._orig


def probe(spark, work: str, seed: int, tracer: Tracer) -> tuple[dict[str, float], int, int, list[str]]:
    """Check and time the plans in ``QUERIES`` on the running session.
    Returns per-layer metrics (per pass), executions attempted, failed
    (executions of a plan whose rows mismatch its oracle) and notes."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    sf_dir = os.path.join(work, "sf")
    with tracer.span("gen", "probe"):
        events = gen.write_events_table(EVENTS, USERS, seed, sf_dir)
    sc = spark.sparkContext
    execs: list[tuple[str, float, float]] = []  # query, wall s, build s

    def run_pass(group: str) -> None:
        for name, spec in specs.items():
            sc.setJobGroup(f"{group}-{len(execs)}", name)
            with tracer.span("query", f"{group}-{len(execs)}", query=name):
                t = time.perf_counter()
                with tracer.span("plans.build", f"{group}-{len(execs)}"):
                    df = spec.spark(spark, sf_dir)
                build = time.perf_counter() - t
                with tracer.span("execute", f"{group}-{len(execs)}"):
                    df.write.format("noop").mode("overwrite").save()
                execs.append((name, time.perf_counter() - t, build))

    with tracer.span("warmup", "probe"):
        specs = {name: REGISTRY_GET(name) for name in QUERIES}
        sc.setJobGroup("probe-check", "oracle check")
        for name, spec in specs.items():
            spec.spark(spark, sf_dir).write.parquet(os.path.join(work, "check", name))
        for _ in range(WARM_PASSES):
            run_pass("probe-warm")
    execs.clear()

    con = connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    bad = {}
    with tracer.span("oracle.check", "probe"):
        for name, spec in specs.items():
            missing, extra = mismatched(con, spec.oracle, os.path.join(work, "check", name))
            if missing or extra:
                bad[name] = (missing, extra)

    with LoadTableProbe() as load:
        for _ in range(PASSES):
            run_pass("probe")
    sc.setJobGroup("perfbench", "after the probe")

    with tracer.span("status_store.read", "probe"):
        jobs, stages = read_status_store(spark)
    c = scope_counters(jobs, stages, {f"probe-{i}" for i in range(len(execs))})
    wall_s = sum(e[1] for e in execs)
    build_s = sum(e[2] for e in execs)
    layers = {
        "catalog.load_table_s": load.seconds / PASSES,
        "plans.build_s": build_s / PASSES,
        "plans.wall_s": wall_s / PASSES,
        "driver.overhead_s": (wall_s - build_s - c["task_run_s"] / sc.defaultParallelism) / PASSES,
        "plans.python_worker_gap_s": (c["task_run_s"] - c["task_cpu_s"]) / PASSES,
    }
    per_query = {name: np.median([e[1] for e in execs if e[0] == name]) for name in QUERIES}
    notes = [
        f"registry probe: plans checked {len(specs)}, mismatched {bad or 'none'}; "
        "median wall s: " + " ".join(f"{n}={v:.3f}" for n, v in per_query.items()),
    ]
    failed = sum(1 for e in execs if e[0] in bad)
    return layers, len(execs), failed, notes
