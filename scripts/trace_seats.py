"""Trace any list of query seats: per operation, its seconds, Spark jobs,
codegen compiles and py4j calls.

    python3 scripts/trace_seats.py q124 q127 --seed 1 --passes 2

Run from the repository root. It runs perfbench's ``SeatWorkload`` over the
given seats on tables generated from ``--seed`` (every table, at
``--scale``): the checked warm pass, then ``--passes`` passes whose jobs
``perfbench/spans.py`` tags by seat. Jobs come from the session's event
log, compiles from Spark's ``CodegenMetrics``, and py4j calls from a
counter on the gateway connection that leaves out the tracer's own
``setLocalProperty`` calls. Prints one JSON line per pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import py4j.clientserver  # noqa: E402
import run as perfbench  # noqa: E402  (perfbench/run.py)
import spans  # noqa: E402

from candia_spark.session import codegen_compiles  # noqa: E402
from candia_spark.tables import TABLE_NAMES  # noqa: E402

PY4J_CALLS = [0]
_send = py4j.clientserver.ClientServerConnection.send_command


def _counted_send(self, command):
    if "\nsetLocalProperty\n" not in command:
        PY4J_CALLS[0] += 1
    return _send(self, command)


class SeatTracer(spans.Tracer):
    """``spans.Tracer`` that also counts each op's compiles and py4j calls."""

    def __init__(self, spark):
        super().__init__(spark.sparkContext)
        self.spark = spark
        self.counts: dict[str, dict] = {}

    @contextmanager
    def op(self, name: str):
        compiles, calls = codegen_compiles(self.spark), PY4J_CALLS[0]
        try:
            with super().op(name):
                yield
        finally:
            calls = PY4J_CALLS[0] - calls
            compiles = codegen_compiles(self.spark) - compiles
            self.counts[name] = {"compiles": compiles, "py4j_calls": calls}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("seats", nargs="+", help="seat prefixes, e.g. q124")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--scale", type=float, default=0.03)
    args = ap.parse_args()
    workload = perfbench.SeatWorkload(args.seats, set(TABLE_NAMES), args.scale)
    work = os.path.join(ROOT, ".perfbench_work", f"trace-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        workload.prepare(work, args.seed)
        spark = perfbench.start_spark(work, log_dir)
        _, failures = workload.warm(spark)
        py4j.clientserver.ClientServerConnection.send_command = _counted_send
        tracer, passes = SeatTracer(spark), []
        for i in range(args.passes):
            times: dict[str, float] = {}
            tracer.begin_pass(str(i))
            failures += workload.run_pass(spark, tracer, times)[1]
            tracer.end_pass()
            passes.append((times, dict(tracer.counts)))
        spark.stop()
        (log,) = os.listdir(log_dir)
        totals = spans.read_event_log(os.path.join(log_dir, log))
    finally:
        perfbench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for i, (times, counts) in enumerate(passes):
        jobs = totals.get(str(i), {}).get("jobs_by_op", {})
        ops = {op: {"s": round(times[op], 3), "jobs": jobs.get(op, 0), **counts[op]}
               for op in times}
        print(json.dumps({"pass": i, "ops": ops}))
    if failures:
        print(json.dumps({"failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
