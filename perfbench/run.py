"""candia_spark benchmark: one workload per run, on ``local[<cores>]``.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` in the current directory, starts one Spark
session, makes an untimed warm pass that also checks every output, then
repeats timed passes for ``--seconds`` and reports medians over them. The
last line of standard output is one JSON object; the line before it is a
summary that also carries ``failed_frac`` and, with ``--trace 1``, the full
per-layer table.

With ``--trace 1`` the session writes an uncompressed event log and the
timed passes alternate: one with every layer function wrapped (see
``spans.py``), one plain. The traced passes give the per-layer metrics;
``trace.overhead_s`` is the median traced pass minus the median plain pass.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# A run must end inside three minutes; passes are planned to end by this.
DEADLINE_S = 165.0

RELATIONAL_SEATS = ["q01", "q02", "q04", "q06", "q08", "q09", "q12", "q15",
                    "q20", "q21", "q22"]
# q72 (winnowing pairs) is left out of the listed workload to keep a run
# short; q27 and q73 still enter the dedup layer.
CORPUS_SEATS = ["q27", "q73", "q124"]
RELATIONAL_TABLES = {"lineitem", "orders", "customer", "supplier", "nation",
                     "region", "events"}
CORPUS_TABLES = {"documents", "embeddings"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- workloads --------------------------------------------------------------

class SeatWorkload:
    """Registered query seats over generated tables; the sink is a noop write."""

    def __init__(self, seats: list[str], tables: set[str], scale: float):
        self.seats = seats
        self.tables = tables
        self.scale = scale
        self.ops = seats

    def prepare(self, work: str, seed: int) -> int:
        import gen_tables
        from candia_spark.plans.queries import QUERY_REGISTRY

        by_prefix = {n.split("_", 1)[0]: n for n in QUERY_REGISTRY}
        self.names = {s: by_prefix[s] for s in self.seats}
        self.sf_dir = os.path.join(work, "tables")
        rows = gen_tables.generate(self.sf_dir, seed, self.scale, self.tables)
        return sum(rows.values())

    def warm(self, spark) -> tuple[int, list[str]]:
        """One untimed pass that compares every seat with its oracle, then
        one untimed noop pass.

        The noop pass warms the sink path the timed passes use; without it
        the first timed pass ran up to 20% slower than the next.
        """
        import checks

        failures = []
        for seat in self.seats:
            try:
                bad = checks.check_seat(spark, self.sf_dir, self.names[seat])
            except Exception as exc:  # noqa: BLE001 - a failed seat is counted
                bad = f"{seat}: {type(exc).__name__}: {exc}"[:300]
            if bad:
                failures.append(bad)
        n, bad = self.run_pass(spark, None, {})
        return len(self.seats) + n, failures + bad

    def run_pass(self, spark, tracer, times: dict) -> tuple[int, list[str]]:
        from candia_spark.plans.queries import QUERY_REGISTRY

        failures = []
        for seat in self.seats:
            with op_scope(tracer, times, seat):
                try:
                    with span(tracer, "plans"):
                        df = QUERY_REGISTRY[self.names[seat]].spark(spark, self.sf_dir)
                    with span(tracer, "sink"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failed seat is counted
                    failures.append(f"{seat}: {type(exc).__name__}: {exc}"[:300])
        return len(self.seats), failures


class PipelineWorkload:
    """``pipeline.run_pipeline`` on generated DIA mzML: stages 1-9 with the
    slice-store write, and the stage-10 mzXML export when ``export``."""

    NCOMP = [2, 3]
    MIN_DIMS = (2, 3, 3)  # kernels.decompose_slices' trivial-tensor guard
    ops = ["run_pipeline"]

    def __init__(self, samples: int, windows: int, rt_span: float,
                 max_iter: int, export: bool):
        self.shape = {"samples": samples, "n_windows": windows, "rt_span": rt_span}
        self.max_iter = max_iter
        self.export = export
        self.n_models = None

    def prepare(self, work: str, seed: int) -> int:
        import gen_mzml

        self.work = work
        self.paths, points = gen_mzml.generate(os.path.join(work, "mzml"), seed,
                                               **self.shape)
        self.n = 0
        return points

    def _run(self, spark):
        from candia_spark.pipeline import CandiaConfig, run_pipeline

        self.n += 1
        for old in ("slices", "best.mzXML"):
            for name in os.listdir(self.work):
                if name.startswith(old):
                    path = os.path.join(self.work, name)
                    if os.path.isdir(path):
                        shutil.rmtree(path)
                    else:
                        os.remove(path)
        mzxml = os.path.join(self.work, f"best.mzXML.{self.n}") if self.export else None
        out = run_pipeline(
            spark, self.paths, CandiaConfig(), ncomp_range=self.NCOMP,
            max_iter=self.max_iter,
            slice_store_path=os.path.join(self.work, f"slices.{self.n}"),
            mzxml_out=mzxml,
        )
        return out, mzxml

    def warm(self, spark) -> tuple[int, list[str]]:
        """One untimed run with every pipeline invariant checked."""
        import checks

        try:
            out, mzxml = self._run(spark)
            failures = checks.check_pipeline(out, self.NCOMP, self.MIN_DIMS, mzxml)
            self.n_models = len(self._models(out))
        except Exception as exc:  # noqa: BLE001 - a failed run is counted
            failures = [f"run_pipeline: {type(exc).__name__}: {exc}"[:300]]
        return 1, [f"run_pipeline: {f}" for f in failures]

    @staticmethod
    def _models(out) -> set[tuple]:
        """The (slice, rank) models that have sample modes: one action that
        runs stages 1-9."""
        import checks

        rows = out["sample_modes"].select(*checks.SLICE, "ncomp").collect()
        return {tuple(r) for r in rows}

    def run_pass(self, spark, tracer, times: dict) -> tuple[int, list[str]]:
        """One pipeline run. The export, when made, must hold one scan per
        component of the sample-mode models; without it, the number of those
        models must be the one the checked warm run found."""
        import checks

        with op_scope(tracer, times, "run_pipeline"):
            try:
                out, mzxml = self._run(spark)
                with span(tracer, "sink"):
                    models = self._models(out)
                expected = sum(k for *_, k in models)
                scans = checks.mzxml_scan_count(mzxml) if self.export else None
            except Exception as exc:  # noqa: BLE001 - a failed run is counted
                return 1, [f"run_pipeline: {type(exc).__name__}: {exc}"[:300]]
        if self.export and scans != expected:
            return 1, [f"run_pipeline: mzXML exported {scans} scans, sample-mode "
                       f"models have {expected} components"]
        if not self.export and len(models) != self.n_models:
            return 1, [f"run_pipeline: {len(models)} sample-mode models, the "
                       f"checked warm run had {self.n_models}"]
        return 1, []


def make_workload(name: str):
    if name == "relational":
        return SeatWorkload(RELATIONAL_SEATS, RELATIONAL_TABLES, 0.05)
    if name == "corpus":
        return SeatWorkload(CORPUS_SEATS, CORPUS_TABLES, 0.03)
    # Four samples give one parse task per core on a 4-core box; the listed
    # pipeline workload has 4 windows x 2 retention-time windows = 8 slices,
    # the full-size one 8 x 5 = 40.
    if name == "pipeline":
        return PipelineWorkload(samples=4, windows=4, rt_span=120.0, max_iter=50,
                                export=False)
    if name == "dia_pipeline":
        return PipelineWorkload(samples=4, windows=8, rt_span=300.0, max_iter=100,
                                export=True)
    raise SystemExit(f"unknown workload {name!r}")


# --- spans and session ------------------------------------------------------

def span(tracer, layer: str):
    return tracer.span(layer) if tracer is not None else nullcontext()


@contextmanager
def op_scope(tracer, times: dict, op: str):
    """Time one operation into ``times``; with a tracer, also tag its jobs."""
    start = time.perf_counter()
    try:
        with tracer.op(op) if tracer is not None else nullcontext():
            yield
    finally:
        times[op] = time.perf_counter() - start


def start_spark(work: str, event_log: str | None):
    from candia_spark.session import get_spark

    n = cores()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="candia_spark_perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the Spark JVM and wait for it; it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(spark, workload, seconds: float, tracer=None):
    """Repeat rounds for ``seconds``: at least one, or two when traced, so
    the trace shows which counters change between passes. Stop early when
    the next round would end after the run's deadline.

    With a tracer a round is two passes, one with the layer functions wrapped
    and its jobs tagged and one plain, so the tracer's overhead is measured in
    the same session; the plain pass comes second in even rounds and first in
    odd ones, so a drift in pass time does not land on one side. Return the
    traced (or only) pass walls, the plain pass walls, per-pass operation
    times, operations attempted, failures and each traced pass's span totals.
    """
    walls, plain, op_s, per_pass, failures = [], [], [], [], []
    attempted = 0

    def run(traced: bool) -> float:
        nonlocal attempted
        times = {}
        a = time.perf_counter()
        if traced:
            tracer.install()
            tracer.begin_pass(str(len(walls)))
        try:
            n, bad = workload.run_pass(spark, tracer if traced else None, times)
        finally:
            if traced:
                tracer.uninstall()
        wall = time.perf_counter() - a
        attempted += n
        failures.extend(bad)
        if traced or tracer is None:
            op_s.append(times)
        if traced:
            per_pass.append(tracer.end_pass())
            per_pass[-1]["op_s"] = times
            per_pass[-1]["df_cache_entries_end"] = tracer.df_cache_entries(spark)
        return wall

    t0 = time.perf_counter()
    round_s = 0.0
    while True:
        a = time.perf_counter()
        if len(walls) >= (2 if tracer else 1) and a - t0 >= seconds:
            break
        if walls and a - T_START + round_s > DEADLINE_S:
            break
        if tracer is None:
            walls.append(run(False))
        elif len(walls) % 2 == 0:
            walls.append(run(True))
            plain.append(run(False))
        else:
            plain.append(run(False))
            walls.append(run(True))
        round_s = time.perf_counter() - a
    return walls, plain, op_s, attempted, failures, per_pass


# --- traced run -------------------------------------------------------------

def layer_metrics(workload, walls, per_pass, totals, plain_wall) -> tuple[dict, list]:
    """Median over traced passes of every per-layer metric, and the
    per-pass values it was taken from."""
    import spans

    rows = []
    for i, (wall, pp) in enumerate(zip(walls, per_pass)):
        ev = totals.get(str(i), {})
        m = {}
        for layer in spans.LAYERS:
            m[f"{layer}.calls"] = pp["calls"].get(layer, 0)
            m[f"{layer}.self_s"] = pp["self_s"].get(layer, 0.0)
            m[f"{layer}.jobs"] = ev.get("jobs_by_layer", {}).get(layer, 0)
        mb = 1024.0 * 1024.0
        m.update({
            "spark.jobs": ev.get("jobs", 0),
            "spark.stages": ev.get("stages", 0),
            "spark.tasks": ev.get("tasks", 0),
            "spark.executor_run_s": ev.get("run_s", 0.0),
            "spark.executor_cpu_s": ev.get("cpu_s", 0.0),
            "spark.gc_s": ev.get("gc_s", 0.0),
            "spark.task_max_s": ev.get("task_max_s", 0.0),
            "spark.shuffle_write_mb": ev.get("shuffle_write_b", 0) / mb,
            "spark.shuffle_read_mb": ev.get("shuffle_read_b", 0) / mb,
            "spark.spill_mb": ev.get("spill_b", 0) / mb,
            "spark.output_mb": ev.get("output_b", 0) / mb,
            "spark.busy_frac": ev.get("run_s", 0.0) / (wall * cores()),
            "spark.s_per_job": wall / max(1, ev.get("jobs", 0)),
            "spark.df_cache_entries_end": pp["df_cache_entries_end"],
        })
        fleet_n = ev.get("kernels.fleet.executions", 0)
        m["kernels.fleet_executions"] = fleet_n
        m["kernels.fleet_tasks"] = ev.get("kernels.fleet.tasks", 0) / fleet_n if fleet_n else 0
        m["sources.parse_executions"] = ev.get("sources.parse.executions", 0)
        for op in workload.ops:
            m[f"op.{op}.s"] = pp["op_s"].get(op, 0.0)
            m[f"op.{op}.jobs"] = ev.get("jobs_by_op", {}).get(op, 0)
        m["trace.wall_s"] = wall
        rows.append(m)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_s"] = out["trace.wall_s"] - plain_wall
    return out, rows


# --- main -------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import candia_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    workload = make_workload(args.workload)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    spark = None
    try:
        setup_parts = {"inputs_s": time.perf_counter()}
        input_rows = workload.prepare(work, args.seed)
        setup_parts["spark_start_s"] = time.perf_counter()
        spark = start_spark(work, log_dir)
        setup_parts["warm_s"] = time.perf_counter()
        attempted, failures = workload.warm(spark)
        setup_s = time.perf_counter() - T_START
        marks = list(setup_parts.values()) + [setup_s + T_START]
        setup_parts = {k: b - a for k, a, b in zip(setup_parts, marks, marks[1:])}
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark.sparkContext)
        walls, plain, op_s, n, bad, per_pass = timed_passes(
            spark, workload, args.seconds, tracer
        )
        attempted += n
        failures += bad
        spark.stop()
        spark = None
        wall_s = statistics.median(walls)
        summary = {
            "workload": args.workload, "seed": args.seed, "cores": cores(),
            "input_rows": input_rows, "setup_s": setup_s,
            "setup_parts": setup_parts, "wall_s": wall_s,
            "rows_per_s": input_rows / wall_s,
            "pass_walls": walls,
            "op_s": {op: statistics.median(t[op] for t in op_s) for op in op_s[0]},
        }
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "rows_per_s": {"value": input_rows / wall_s, "unit": "1/s"},
        }
        if args.trace:
            summary["plain_pass_walls"] = plain
            (log,) = os.listdir(log_dir)
            totals = spans.read_event_log(os.path.join(log_dir, log))
            layers, layer_passes = layer_metrics(
                workload, walls, per_pass, totals, statistics.median(plain)
            )
            summary["layers"] = layers
            summary["layer_passes"] = layer_passes
            metrics = per_layer_metrics(layers)
        summary["failed_frac"] = len(failures) / attempted
        summary["failures"] = failures[:20]
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's inputs are still there
            pass
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def per_layer_metrics(layers: dict) -> dict:
    """The per-layer metrics named in BENCHMARK.json, with their units.

    Every name there is one each workload produces; a name the trace did not
    produce is an error, not a 0.
    """
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    missing = [m["name"] for m in spec if m["name"] not in layers]
    if missing:
        raise KeyError(f"trace produced no value for {missing}")
    return {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec}


if __name__ == "__main__":
    sys.exit(main())
