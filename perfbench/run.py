#!/usr/bin/env python3
"""Connector benchmark: one command per workload run.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds a local Spark session over
the checkout's ``spark_eventhubs_spark`` package, makes the workload's
inputs from ``--seed``, measures for ``--seconds`` seconds, checks the
program's output, and prints one JSON object as the last line of
standard output::

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also records spans and prints the per-layer
metrics instead. Everything the run writes stays under ``.perfbench/``
in the checkout: a record per run in ``.perfbench/records/`` (host
stamp, every metric) and, for traced runs, the spans and the tracing
overhead in ``.perfbench/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("backlog_drain", "live_relay")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")



def host_stamp() -> dict:
    """nproc, the 1-minute load before the run, and a fixed numpy canary
    (a 1024x1024 float64 matmul, 8 times, single call; bigger = slower
    host), so a slow host can be seen in the record."""
    import numpy as np

    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    a = np.ones((1024, 1024))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a * 1e-3
    return {"nproc": len(os.sched_getaffinity(0)), "load1": load1,
            "np_canary_s": time.perf_counter() - t0}


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def configure_env(run_dir: str, cores: int) -> None:
    """Keep the JVM, the Python workers and every temp file inside the
    checkout; set before the session starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    mem = driver_memory()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}\"",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.sql.streaming.numRecentProgressUpdates=1000",
        "pyspark-shell",
    ])


def start_session(master: str):
    from spark_eventhubs_spark.session import build_session
    from spark_eventhubs_spark.sources.datasource import register_eventhubs

    spark = build_session("perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    register_eventhubs(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _latest_untraced(workload: str, seed: int):
    """The newest untraced record of the same workload and seed."""
    d = os.path.join(WORK, "records")
    best = None
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(f"{workload}-s{seed}-t0-"):
            path = os.path.join(d, f)
            if best is None or os.path.getmtime(path) > os.path.getmtime(best):
                best = path
    if best is None:
        return None
    with open(best) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "spark_eventhubs_spark", "__init__.py")):
        print("perfbench: no spark_eventhubs_spark package beside perfbench/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    stamp = host_stamp()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, stamp["nproc"])

    import tracing
    import workloads

    t0 = time.time()
    spark = start_session(f"local[{stamp['nproc']}]")
    session_s = time.time() - t0
    tracer = collector = None
    if args.trace:
        tracer = tracing.Tracer(run_id)
        collector = tracing.ProgressCollector()
        spark.streams.addListener(collector)
        tracer.add("setup.session", t0, t0 + session_s)
    run = workloads.Run(spark, run_dir, args.seed, args.seconds, tracer, collector)
    try:
        with (tracer.span(f"workload.{args.workload}") if tracer
              else contextlib.nullcontext({"id": None})) as root:
            run.root = root["id"]
            metrics = workloads.WORKLOADS[args.workload](run, session_s)
        if tracer:
            workloads.catalog_pass(run)
    finally:
        stop_session(spark)

    record = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": stamp,
              "attempted": run.attempted, "failed": run.failed,
              "end_to_end": metrics, "layers": run.layers, "info": run.info}
    if tracer:
        base = _latest_untraced(args.workload, args.seed)
        record["tracing_overhead"] = (
            {k: (v - base["end_to_end"][k]) / base["end_to_end"][k]
             for k, v in metrics.items()} if base else
            "no untraced record of this workload and seed in .perfbench/records")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"),
                    {"layers": run.layers, "tracing_overhead": record["tracing_overhead"]})
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"host": stamp, "info": run.info}), file=sys.stderr)
    spec = declared_metrics()["per_layer" if tracer else "end_to_end"]
    values = run.layers if tracer else metrics
    out = {}
    for m in spec:
        if m["name"] in values:
            out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        else:
            raise RuntimeError(f"metric {m['name']} was not measured")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0 if correct else 1


def declared_metrics() -> dict:
    """Metric names and units, from the checkout's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
