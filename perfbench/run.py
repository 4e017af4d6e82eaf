"""hll_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload url_hll_global --seed 42 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones and writes the run's spans to ``perfbench/.cache/traces/``. Spark
runs on ``local[<usable cores>]`` in this process. See README.md in this
directory for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

import observe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
TMP = os.path.join(CACHE, "tmp")
HEAP = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    this checkout, and let the workers import the library from it."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def start_session(cpus: int, ui: bool):
    from pyspark.sql import SparkSession

    from hll_spark.session import apply_malloc_tunables, pin_jvm_heap

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData")
    )
    builder = pin_jvm_heap(apply_malloc_tunables(builder), HEAP)
    spark = (
        builder.config("spark.local.dir", TMP)
        .config("spark.sql.warehouse.dir", os.path.join(TMP, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and every worker have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for tick in range(150):  # 30 s
        left = [p for p in observe.tree() if p != os.getpid()]
        if not left:
            return
        if tick >= 25:  # anything still alive 5 s after the JVM exited
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


class Runner:
    def __init__(self, wl, trace: bool):
        self.wl = wl
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_part(self, name: str, build) -> dict:
        """Build the part's DataFrame and execute it (one action)."""
        t0 = time.perf_counter()
        start = time.time()
        df = build()
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        return {"name": name, "df": df, "rows": rows, "start": start,
                "build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}

    def run_unit(self, spark, parts) -> dict | None:
        """One closed-loop unit, then the untimed output checks. Returns
        its measurements, or None when a part failed or gave a wrong
        answer (counted in ``failed``)."""
        self.attempted += 1
        self.wl.before_unit()
        observe.reset_peak_rss()
        cpu0 = observe.cpu_by_role()
        try:
            done = [self.run_part(name, build) for name, build in parts]
            cpu1 = observe.cpu_by_role()
            peak = observe.peak_rss_mb()
            for p in done:
                self.wl.check(p["name"], p.pop("rows"))
        except Exception as exc:  # a failed or wrong unit is reported, not fatal
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            log(traceback.format_exc(limit=3))
            return None
        return {
            "parts": done,
            "wall_s": sum(p["wall_s"] for p in done),
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "peak_rss_mb": peak,
        }


def setup(runner: Runner, cpus: int, t_start: float) -> tuple[object, float, float]:
    """Session start (JVM launch), fixture check (``fixtures.ensure``
    verifies the manifest) and the first, cold unit of the workload,
    timed from process start without the one-time fixture generation.
    Returns (spark, setup_s, fixture_gen_s)."""
    spark = start_session(cpus, runner.trace)
    gen_s = runner.wl.fixture(spark)
    if gen_s:
        log(f"generated fixture {runner.wl.path} in {gen_s:.1f}s")
    if runner.run_unit(spark, runner.wl.parts(spark)) is None:
        raise RuntimeError("the first unit failed: " + runner.errors[-1])
    return spark, time.perf_counter() - t_start - gen_s, gen_s


def measure(runner: Runner, spark, seconds: float, traced_units: bool):
    """Run units until ``seconds`` have passed; the cold unit of set-up
    was the warm-up. With ``traced_units`` every other unit is traced
    (REST stages, plans)."""
    parts = runner.wl.parts(spark)
    rest = observe.Rest(spark) if traced_units else None
    plain, traced = [], []
    steal0 = observe.cpu_steal()
    t_end = time.perf_counter() + seconds
    while True:
        tracing = traced_units and len(plain) > len(traced)
        last_job = rest.last_job_id() if tracing else None
        unit = runner.run_unit(spark, parts)
        if unit is not None:
            if tracing:
                unit["stats"] = rest.unit_stats(last_job)
                partials = [s for s in unit["stats"]["stages"] if s["layer"] == "agg.partials"]
                top = max(partials, key=lambda s: s["executorRunTime"], default=None)
                unit["skew"] = rest.task_skew(top) if top else 1.0
                for p in unit["parts"]:
                    p["exchanges"], p["py_eval"] = observe.plan_counts(p["df"])
                traced.append(unit)
            else:
                plain.append(unit)
            for p in unit["parts"]:
                del p["df"]
        enough = len(plain) >= runner.wl.min_units and (
            not traced_units or len(traced) >= runner.wl.min_units
        )
        if time.perf_counter() >= t_end and (enough or runner.failed):
            break
    steal1 = observe.cpu_steal()
    log(f"measured {len(plain)}+{len(traced)} units; machine steal share "
        f"{(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.3f}")
    return plain, traced


def med(xs):
    return statistics.median(xs) if xs else 0.0


def part_medians(units: list) -> dict[str, float]:
    walls: dict[str, list] = {}
    for u in units:
        for p in u["parts"]:
            walls.setdefault(p["name"], []).append(p["wall_s"])
    return {name: med(v) for name, v in walls.items()}


def e2e_metrics(wl, plain: list, setup_s: float) -> dict:
    # a unit's wall time as the sum of its parts' medians: one slow query
    # in one pass of a many-query unit does not move the figure
    wall = sum(part_medians(plain).values())
    return {
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.rows / wall if wall else 0.0, "1/s"),
        "cpu_s": (med([u["cpu"]["total"] for u in plain]), "s"),
        "peak_rss_mb": (med([u["peak_rss_mb"] for u in plain]), "MB"),
        "setup_s": (setup_s, "s"),
    }


def layer_metrics(wl, plain: list, traced: list, rates: dict, spans) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced units) and the per-part
    wall times that go to the trace file."""
    import kernels
    rows = []
    for n, u in enumerate(traced):
        stages = u["stats"]["stages"]
        partials = [s for s in stages if s["layer"] == "agg.partials"]
        merges = [s for s in stages if s["layer"] == "agg.merge"]
        unit_span = spans.add("unit", u["parts"][0]["start"],
                              u["parts"][-1]["start"] + u["parts"][-1]["wall_s"], None, unit=n)
        gap = 0.0
        for p in u["parts"]:
            ps = spans.add(p["name"], p["start"], p["start"] + p["wall_s"], unit_span)
            spans.add("build", p["start"], p["start"] + p["build_s"], ps)
            ex0, ex1 = p["start"] + p["build_s"], p["start"] + p["wall_s"]
            ex = spans.add("execute", ex0, ex1, ps, exchanges=p["exchanges"], py_eval=p["py_eval"])
            mine = [s for s in stages if s["start"] is not None and ex0 - 0.01 <= s["start"] <= ex1 + 0.01]
            for s in mine:
                spans.add(f"stage {s['stageId']}", s["start"], s["end"], ex, layer=s["layer"],
                          tasks=s["numTasks"], run_s=s["executorRunTime"] / 1e3)
            covered = observe.covered_seconds(
                [(max(s["start"], ex0), min(s["end"], ex1)) for s in mine if s["end"]]
            )
            gap += max(0.0, p["exec_s"] - covered)
        py_cpu = u["cpu"]["py_worker"]
        rows.append({
            "agg.partials.run_s": sum(s["executorRunTime"] for s in partials) / 1e3,
            "agg.partials.jvm_cpu_s": sum(s["executorCpuTime"] for s in partials) / 1e9,
            "agg.partials.tasks": sum(s["numTasks"] for s in partials),
            "agg.partials.task_skew": u["skew"],
            "agg.partials.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in partials),
            "agg.merge.run_s": sum(s["executorRunTime"] for s in merges) / 1e3,
            "agg.merge.tasks": sum(s["numTasks"] for s in merges),
            "boundary.py_worker_cpu_s": py_cpu,
            "boundary.jvm_cpu_s": u["cpu"]["jvm"],
            "boundary.kernel_frac": (
                kernels.core_seconds(rates, wl.kernel_work()) / py_cpu if py_cpu > 0 else 0.0
            ),
            "spark.build_s": sum(p["build_s"] for p in u["parts"]),
            "spark.jobs": len(u["stats"]["jobs"]),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.exchanges": sum(p["exchanges"] for p in u["parts"]),
            "spark.python_eval_nodes": sum(p["py_eval"] for p in u["parts"]),
            "spark.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.input_bytes": sum(s["inputBytes"] for s in stages),
            "spark.driver_gap_s": gap,
        })
    metrics = {k: med([r[k] for r in rows]) for k in rows[0]} if rows else {}
    metrics.update(rates)
    metrics["trace_overhead_frac"] = (
        med([u["wall_s"] for u in traced]) / med([u["wall_s"] for u in plain]) - 1.0
    )
    return metrics, {f"{k}.wall_s": v for k, v in part_medians(plain + traced).items()}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("mrows_s", "Mrows/s"), ("docs_s", "1/s"), ("_bytes", "B"),
                         ("_frac", "frac"), ("_skew", "ratio"), (".us", "us"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's row count (tests, pinned checks)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    _environment()
    import hll_spark

    if not os.path.abspath(hll_spark.__file__).startswith(ROOT + os.sep):
        log(f"hll_spark imported from {hll_spark.__file__}, not from this checkout")
        return 2
    import kernels
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](args.seed, args.rows)
    cpus = len(os.sched_getaffinity(0))
    runner = Runner(wl, bool(args.trace))
    spark = None
    try:
        spark, setup_s, gen_s = setup(runner, cpus, t_start)
        log(f"setup_s={setup_s:.2f}")
        plain, traced = measure(runner, spark, args.seconds, bool(args.trace))
        if not plain:
            raise RuntimeError("no unit completed: " + "; ".join(runner.errors[:3]))
        if args.trace:
            spans = observe.Spans(f"{wl.name}-seed{args.seed}-{int(time.time())}")
            rates = kernels.probe(**wl.probe_inputs())
            metrics, part_walls = layer_metrics(wl, plain, traced, rates, spans)
            metrics["failed_frac"] = runner.failed / runner.attempted
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
            spans.dump(
                os.path.join(CACHE, "traces", f"{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed, "cpus": cpus,
                 "fixture_gen_s": gen_s, "part_wall_s": part_walls, "metrics": metrics},
            )
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e_metrics(wl, plain, setup_s).items()}
            log(f"units={len(plain)} fixture_gen_s={gen_s:.2f} attempted={runner.attempted} "
                f"failed={runner.failed}")
            log("unit walls: " + " ".join(f"{u['wall_s']:.2f}" for u in plain))
            for name, wall in part_medians(plain).items():
                log(f"  {name}: median {wall:.3f}s over {len(plain)} units")
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            shutdown(spark)
    for err in runner.errors:
        log(f"failed unit: {err}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
