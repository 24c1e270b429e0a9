"""Benchmark entry point for the CDR enrichment engine.

    python3 perfbench/run.py --workload cdr_stream_steady --seed 1 --seconds 16 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, sets the engine up once from cold, measures for
``--seconds``, checks the outputs against the registered DuckDB oracles
and prints, as the last stdout line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a layer the
workload does not touch reads 0). A traced run also writes its spans to
``.perfbench/trace/`` and prints the end-to-end figures it measured under
tracing on the line before; their gap to an untraced run of the same
seed is the tracing overhead. All scratch data lives under
``.perfbench/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    import cdr
    from tracing import RssSampler, Tracer

    workloads = {"cdr_stream_steady": cdr.steady, "cdr_stream_light": cdr.light}

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_application_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    # metric names and units as BENCHMARK.json lists them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}
    # Python workers put the Spark driver's cwd on their sys.path and import
    # the package from it; all scratch data stays inside the checkout
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file under /tmp: the JVM writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"

    tracer = Tracer(enabled=bool(args.trace))
    engine = cdr.Engine(tmp)
    # the /proc sampler runs only in the traced run, off the timed path
    rss = RssSampler() if args.trace else nullcontext()
    try:
        with rss:
            out = workloads[args.workload](engine, work, args.seed, args.seconds, tracer)
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out.layers["process.peak_rss_mb"] = rss.peak_mb
    for note in out.notes:
        print(note)
    correct = out.valid and out.failed == 0
    if args.trace:
        path = os.path.join(ROOT, ".perfbench", "trace", f"{args.workload}-seed{args.seed}.spans.json")
        tracer.dump(path)
        print(f"spans: {path} ({len(tracer.spans)})")
        print("traced end-to-end:", json.dumps({k: out.metrics[k] for k in units["end_to_end"]}))
        names = units["per_layer"]
        values = dict.fromkeys(names, 0.0) | out.layers
    else:
        names = units["end_to_end"]
        values = out.metrics
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
