"""Benchmark entry point.

    python3 perfbench/run.py --workload images_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Builds (or reuses) the seeded
inputs under ``.perfbench/inputs``, starts one local Spark session at
``local[<cores>]``, drives the workload through the program's public
calls, checks its outputs against the planted truth, and prints as the
last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and reports the per-layer metrics instead.  Every
file the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, slots: int, trace: bool):
    from dude_spark.session import get_spark

    # get_spark's local defaults with two overrides: every file the
    # session writes (shuffle, spill, temporary files) stays in the
    # checkout instead of /dev/shm, and the driver heap is 2g instead of
    # 24g.  At 24g one images_batch run raised the host's used memory to
    # 11.6 GB, at 2g to 3.6 GB, with cold-run and append-rerun times
    # within 3% of each other (4-core, 15 GB host shared with others).
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark("perfbench", master=f"local[{slots}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_jvm() -> None:
    """Stop the driver JVM pyspark launched (it exits when its stdin
    closes) and wait until it has ended, Python workers included."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dude_spark")):
        print(f"no dude_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import eventlog, gen, metrics, procmon, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    inputs = gen.ensure_inputs(os.path.join(state, "inputs"), args.workload, args.seed)
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # executors are local Python workers: they import the package from
    # the checkout and keep their temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    slots = len(os.sched_getaffinity(0))

    end_to_end, per_layer = metrics.load(os.path.join(ROOT, "BENCHMARK.json"))
    spark = None
    try:
        with procmon.RssSampler() as rss:
            t0 = time.monotonic()
            spark = _session(work, slots, bool(args.trace))
            setup_s = time.monotonic() - t0
            out = workloads.WORKLOADS[args.workload](
                spark, inputs, work, args.seconds, setup_s)
            disk = sum(procmon.disk_bytes(d) for d in out.data_dirs)
    finally:
        if spark is not None:
            spark.stop()
            _shutdown_jvm()
    e2e = dict(out.e2e, disk_mb=disk / 1e6)
    gates = dict(out.gates)
    if args.trace:
        log = eventlog.read_event_log(eventlog.event_files(os.path.join(work, "eventlog")))
        layer = out.layers(log, slots)
        layer["peak_rss_mb"] = rss.peak_bytes / 1e6
        share = layer.pop("_attributed_share")
        gates["trace_attributes_at_least_0.95"] = share >= 0.95
        print(f"# attributed share of event-log task time: {share:.4f}")
        units = per_layer
        values = {n: float(layer.get(n, 0.0)) for n in units}
    else:
        units = end_to_end
        values = {n: float(e2e[n]) for n in units}
    for name, ok in gates.items():
        print(f"# gate {name}: {'pass' if ok else 'FAIL'}")
    for k, v in out.notes.items():
        print(f"# {k}: {v}")
    for name, v in values.items():
        print(f"# {name} = {v:.6g} {units[name]}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": all(gates.values()) and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
