"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, starts one Spark session on
``local[<cores>]``, runs one cold pass, then warm passes until ``--seconds``
of warm pass time has been measured and at least the workload's minimum
(three), checking every op's answer outside the timed region. Prints a detail line and then, as the last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones read from spans and Spark's status store. See NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    sys.path[0] = ROOT  # import this directory as the ``perfbench`` package

from perfbench import measure  # noqa: E402
from perfbench.tracing import SparkStats, Tracer, covered_seconds, self_time  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

median = statistics.median
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "4g"  # the engine's default, 16g, is all of a 16 GB machine


def _configure_environment() -> int:
    """Pin the session shape and keep every file the run writes inside the
    checkout. Must run before the engine is imported (it reads the core
    count at import time)."""
    cores = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return cores


SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
}

# Per-layer metrics of a traced run, each a median over its traced warm
# passes of the per-pass total (see NOTES.md for which end-to-end metric
# each should move).
PER_LAYER = [
    "sources.load_calls", "sources.load_s", "sources.load_jobs",
    "queries.build_s", "queries.build_jobs",
    "spark.analysis_s", "spark.optimization_s", "spark.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_gap_s",
    "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.gc_s", "spark.pyworker_cpu_s",
    "pipelines.csv_load_s", "pipelines.csv_load_jobs",
    "pipelines.category_enrich_s", "sources.write_s",
    "sources.bytes_written_per_input_byte",
]


# Engine functions wrapped in traced runs: (module, attribute, span name).
# ``load`` is imported by name into every query module, so each module's
# binding is wrapped.
def _wrap_targets() -> list[tuple[object, str, str]]:
    import importlib
    import pkgutil

    import seoul_big_data_spark as pkg
    from seoul_big_data_spark.pipelines import category_enrich, csv_load
    from seoul_big_data_spark.sources import tables, writers

    targets = []
    for info in pkgutil.iter_modules(pkg.__path__):
        if info.name.startswith("q_") or info.name == "queries":
            mod = importlib.import_module(f"seoul_big_data_spark.{info.name}")
            if getattr(mod, "load", None) is tables.load:
                targets.append((mod, "load", "sources.load"))
    targets += [
        (csv_load, "run", "pipelines.csv_load"),
        (category_enrich, "run", "pipelines.category_enrich"),
        (writers, "append_table", "sources.write"),
        (writers, "overwrite_table", "sources.write"),
    ]
    return targets


class Runner:
    def __init__(self, spark, workload, tracer, stats) -> None:
        self.spark = spark
        self.w = workload
        self.tracer = tracer
        self.stats = stats
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_pass = 0
        self.accounting: dict[str, dict] = {}

    def run_pass(self, traced: bool) -> dict:
        """One pass over the workload's ops. Returns its op times, the CPU of
        the process tree inside the timed regions, and (traced) layer sums."""
        gc.collect()  # every pass starts from a collected Python and JVM heap
        self.spark._jvm.System.gc()
        self.n_pass += 1
        pass_dir = os.path.join(WORK, f"pass{self.n_pass}")
        self.w.start(self.spark, pass_dir)
        sc = self.spark.sparkContext
        pid = os.getpid()
        res = {"op_s": {}, "cpu_s": 0.0, "layers": {}}
        steal0, total0 = measure.cpu_ticks()
        # The engine wrappers stay installed in a traced run; switching the
        # tracer off makes them record nothing in the untraced passes.
        self.tracer.enabled = traced
        if traced:
            gc0 = self.stats.gc_seconds()
            py0 = measure.pyworker_cpu_seconds(pid)
        for name in self.w.ops:
            group = f"pass{self.n_pass}:{name}"
            sc.setJobGroup(group, name, False)
            self.attempted += 1
            cpu0 = measure.tree_cpu_seconds(pid)
            try:
                t0 = time.perf_counter()
                with self.tracer.span("op", op_id=group):
                    result, phases = self.w.run(name, self.tracer)
                dt = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 - a failed op is counted, run goes on
                self._fail(group, traceback.format_exc(limit=3))
                continue
            finally:
                res["cpu_s"] += measure.tree_cpu_seconds(pid) - cpu0
            res["op_s"][name] = dt
            if traced:
                _add(res["layers"], self._layers(group, phases))
            try:
                err = self.w.check(name, result)
            except Exception:  # noqa: BLE001 - a failed check is counted too
                err = traceback.format_exc(limit=3)
            if err:
                self._fail(group, err)
            self.spark.catalog.clearCache()
        sc.setJobGroup("perfbench", "between ops", False)
        if traced:
            res["layers"]["spark.gc_s"] = self.stats.gc_seconds() - gc0
            res["layers"]["spark.pyworker_cpu_s"] = measure.pyworker_cpu_seconds(pid) - py0
        io = self.w.finish_pass(pass_dir)
        if traced and io.get("bytes_read"):
            res["layers"]["sources.bytes_written_per_input_byte"] = (
                io["bytes_written"] / io["bytes_read"]
            )
        res["pass_s"] = sum(res["op_s"].values())
        steal1, total1 = measure.cpu_ticks()
        res["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        return res

    def _fail(self, group: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{group}: {why}")

    def _layers(self, group: str, phases: dict) -> dict:
        """Per-layer numbers of one traced op, from its spans and its jobs."""
        self.stats.drain()
        indexed = self.tracer.op_spans(group)
        spans = list(indexed.values())
        jobs = self.stats.jobs(group)

        def within(name: str) -> list:
            ivs = [(s.start, s.end) for s in spans if s.name == name]
            return [j for j in jobs if any(a <= j.submit <= b for a, b in ivs)]

        def dur(name: str) -> float:
            return sum(s.end - s.start for s in spans if s.name == name)

        stages = self.stats.stages({sid for j in jobs for sid in j.stage_ids})
        op = next(s for s in spans if s.name == "op")
        ex = next((s for s in spans if s.name == "spark.execute"), op)
        busy = [(st["start"], st["end"]) for st in stages] + list(phases.values())
        ex_s = ex.end - ex.start
        catalyst = covered_seconds(list(phases.values()), ex.start, ex.end)
        covered = covered_seconds(busy, ex.start, ex.end)
        build = dur("queries.build")
        # Where the op's wall time went; the residual is time outside both
        # the build and the execute span (bookkeeping between them).
        self.accounting[group.split(":", 1)[1]] = {
            "wall_s": op.end - op.start,
            "build_s": build,
            "build_self_s": sum(  # building, less the time inside tables.load
                self_time(self.tracer.spans, i)
                for i, s in indexed.items() if s.name == "queries.build"
            ),
            "catalyst_s": catalyst,
            "stages_s": covered - catalyst,
            "gap_s": ex_s - covered,
            "residual_s": (op.end - op.start) - build - ex_s if ex is not op else 0.0,
        }
        out = {
            "sources.load_calls": sum(1 for s in spans if s.name == "sources.load"),
            "sources.load_s": dur("sources.load"),
            "sources.load_jobs": len(within("sources.load")),
            "queries.build_s": build,
            "queries.build_jobs": len(within("queries.build")),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(st["tasks"] for st in stages),
            "spark.exec_gap_s": ex_s - covered,
            "spark.exec_run_s": sum(st["run_s"] for st in stages),
            "spark.exec_cpu_s": sum(st["cpu_s"] for st in stages),
            "spark.shuffle_read_mb": sum(st["shuffle_read_b"] for st in stages) / 1e6,
            "spark.shuffle_write_mb": sum(st["shuffle_write_b"] for st in stages) / 1e6,
            "spark.spill_mb": sum(st["spill_b"] for st in stages) / 1e6,
            "pipelines.csv_load_s": dur("pipelines.csv_load"),
            "pipelines.csv_load_jobs": len(within("pipelines.csv_load")),
            "pipelines.category_enrich_s": dur("pipelines.category_enrich"),
            "sources.write_s": dur("sources.write"),
        }
        for phase in ("analysis", "optimization", "planning"):
            a, b = phases.get(phase, (0.0, 0.0))
            out[f"spark.{phase}_s"] = b - a
        return out


def _add(acc: dict, more: dict) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


def _shutdown(spark) -> None:
    """Stop Spark, then its JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    me = os.getpid()
    started = [p for p in measure.process_tree(me) if p != me]
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        started = [p for p in started if measure.read_stat(p) is not None]
        if not started:
            return
        time.sleep(0.2)
    for p in started:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("seoul_big_data_spark") is None:
        print(f"perfbench: the engine package is not under {ROOT}", file=sys.stderr)
        return 2
    cores = _configure_environment()
    from seoul_big_data_spark import session

    marks = {"imported": time.perf_counter() - T0}
    workload = WORKLOADS[args.workload](WORK, args.seed)
    marks["inputs_ready"] = time.perf_counter() - T0

    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:  # finding the targets imports every query module (~2 s)
        for mod, attr, name in _wrap_targets():
            tracer.wrap(mod, attr, name)
        tracer.wrap(session, "get_spark", "session.get_spark")

    with measure.PeakRss(os.getpid()) as rss:
        t0 = time.perf_counter()
        with tracer.span("setup", op_id="setup"):
            spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=SPARK_CONF)
            spark.range(1).count()
        setup_s = time.perf_counter() - t0
        marks["set_up"] = time.perf_counter() - T0
        stats = SparkStats(spark)
        runner = Runner(spark, workload, tracer, stats)

        cold = runner.run_pass(traced=bool(args.trace))
        marks["cold_pass"] = time.perf_counter() - T0
        warm: list[dict] = []
        untraced: list[float] = []
        # Warm passes until --seconds of them are measured, and at least the
        # workload's minimum. Traced runs alternate traced and untraced
        # passes, at least traced-untraced-traced, so the tracing overhead is
        # a within-run comparison that the warm-up slope does not bias.
        while (
            sum(p["pass_s"] for p in warm) + sum(untraced) < args.seconds
            or len(warm) + len(untraced) < workload.min_warm_passes
            or (args.trace and len(warm) < 2)
        ):
            if args.trace and len(warm) > len(untraced):
                untraced.append(runner.run_pass(traced=False)["pass_s"])
            else:
                warm.append(runner.run_pass(traced=bool(args.trace)))
        marks["warm_passes"] = time.perf_counter() - T0
        _shutdown(spark)
        marks["shut_down"] = time.perf_counter() - T0
    tracer.unwrap_all()

    op_samples = [t for p in warm for t in p["op_s"].values()]
    pass_s = median([p["pass_s"] for p in warm])
    # Each op's median over the warm passes. op_p50_s is their median and
    # op_tail_s their maximum: the samples cluster by op, and a percentile
    # of all samples lands between two clusters and jumps between them.
    tail = measure.tail_percentile(op_samples)
    op_median = {
        op: median([p["op_s"][op] for p in warm if op in p["op_s"]])
        for op in workload.ops
        if any(op in p["op_s"] for p in warm)
    }
    trend = measure.trend_per_pass([p["pass_s"] for p in warm])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "input_rows": workload.input_rows,
        "timeline_s": marks,
        "cold_pass_s": cold["pass_s"],
        "warm_pass_s": [p["pass_s"] for p in warm],
        # share of the machine's CPU time the hypervisor took away per pass
        "steal_share": [cold["steal_share"]] + [p["steal_share"] for p in warm],
        "warm_trend_per_pass": trend,
        "warm_settled": None if trend is None else trend > -0.03,
        "op_samples": len(op_samples),
        # the highest percentile of all op samples with ten beyond it
        "op_tail_percentile": None if tail is None else {"p": tail[0], "s": tail[1]},
        "op_median_s": op_median,
        "errors": runner.errors[:20],
    }
    if args.trace:
        spans_path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        get_spark_s = sum(s.end - s.start for s in tracer.spans if s.name == "session.get_spark")
        metrics = {
            k: median([p["layers"].get(k, 0.0) for p in warm]) for k in PER_LAYER
        }
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.traced_pass_s"] = pass_s
        metrics["trace.untraced_pass_s"] = median(untraced)
        detail["tracing_overhead"] = pass_s / median(untraced) - 1
        detail["op_accounting"] = runner.accounting
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold["pass_s"],
            "pass_s": pass_s,
            "op_p50_s": median(op_median.values()),
            "op_tail_s": max(op_median.values()),
            "cpu_s": median([p["cpu_s"] for p in warm]),
            "rows_per_s": workload.input_rows / pass_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
    failed = runner.failed
    detail["fail_ratio"] = failed / runner.attempted
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def _unit(name: str) -> str:
    if name == "rows_per_s":
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
