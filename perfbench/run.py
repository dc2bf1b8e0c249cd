"""Standalone benchmark of the engine: one workload, one seed, one
process, a closed loop with one client thread.

    python3 perfbench/run.py --workload survey_bundle --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run:

1. sets up ``SETUPS`` times — writes the seeded inputs and starts a
   fresh JVM and Spark session (``local[<cores>]``) — and reports the
   median as ``setup_s``; the last session is the one measured;
2. loads the run's references (pandas or DuckDB), untimed;
3. runs passes back to back for ``--seconds`` (at least one pass after
   the first): the first pass is ``first_pass_s``, the median of the
   later ones ``pass_s``. Every operation's output is checked; cached
   and checkpointed blocks are sampled after each operation, then
   swept (``spark.catalog.clearCache`` + ``sweep_checkpoints``);
4. stops the session and its JVM, and prints one JSON result line.

``--trace 1`` installs the span wrappers and a Spark event log,
alternates traced and untraced passes after the first, and reports the
per-layer metrics (median over traced passes) instead of the
end-to-end ones; the full span list goes to
``perfbench/.work/trace-<workload>-s<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
SETUPS = 3
DRIVER_MEM = "4g"
HARD_CAP_S = 120.0  # start no pass past this point of the run

E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "cached_peak_mb": "MB"}


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def _pin_env(run_dir: str, cores: int) -> None:
    """Session settings the run depends on, and temp files kept inside
    the run directory (Python's and the JVM's)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # -XX:-UsePerfData: no hsperfdata file, which the JVM keeps in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(run_dir: str, cores: int, event_log: str | None):
    from bht_etl_app_spark import get_spark

    extra = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM side is already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def lifecycle_sample(spark) -> tuple[int, float]:
    """(registered checkpoint RDDs, cached + checkpointed block MB)."""
    from bht_etl_app_spark.functions import lifecycle

    sc = spark.sparkContext
    ckpt = len(lifecycle._CKPT_REGISTRY.get(sc.applicationId, ()))
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return ckpt, mb


def sweep(spark) -> None:
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints

    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)


def catalyst_stats(df) -> dict:
    """Planner numbers of one DataFrame: the analysis, optimization and
    planning phases of planning its logical plan afresh (the query's own
    tracker spans every re-analysis of a shared plan, so its phase
    durations are not per-query), and the size of its executed plan."""
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    modes = getattr(spark._jvm.org.apache.spark.sql.execution, "CommandExecutionMode$")
    fresh = spark._jsparkSession.sessionState().executePlan(
        qe.logical(), modes.__getattr__("MODULE$").ALL()
    )
    fresh.executedPlan()
    phases = fresh.tracker().phases()

    def ms(phase):
        opt = phases.get(phase)
        return float(opt.get().durationMs()) if opt.isDefined() else 0.0

    return {
        "analysis_ms": ms("analysis"),
        "optimization_ms": ms("optimization"),
        "planning_ms": ms("planning"),
        "plan_chars": len(plan),
        "exchanges": plan.count("Exchange"),
    }


def quartiles(xs: list[float]) -> dict:
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = med = q3 = xs[0] if xs else None
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


class Runner:
    def __init__(self, spark, workload, tracer, cores):
        self.spark, self.wl, self.tracer, self.cores = spark, workload, tracer, cores
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def run_pass(self, traced: bool) -> dict:
        tr = self.tracer
        p = len(self.passes)
        tr.enabled, tr.pass_no = traced, p
        ops = [self._run_op(p, op, traced) for op in self.wl.operations]
        tr.enabled = False
        rec = {"pass": p, "traced": traced, "wall_s": sum(o["wall_s"] for o in ops), "ops": ops}
        self.passes.append(rec)
        return rec

    def _run_op(self, p: int, op, traced: bool) -> dict:
        """Time one operation (build + act); then, untimed, check its
        output, sample the blocks it holds and sweep them."""
        tr, sc = self.tracer, self.spark.sparkContext
        self.attempted += 1
        op_span = None
        if traced:
            group = f"p{p}-{op.name}"
            sc.setJobGroup(group, op.name)
            op_span = tr.open(f"op:{op.name}", "op")
            op_span.attrs["group"] = group
            tr.op, tr.op_span = op.name, op_span.id
        built = result = err = None
        t0 = time.perf_counter()
        try:
            with tr.span("build", "build"):
                built = op.build(self.spark)
            with tr.span("act", "act"):
                result = op.act(built)
        except Exception as e:  # counted as a failed operation
            err = f"{type(e).__name__}: {e}"[:500]
        rec = {"op": op.name, "wall_s": time.perf_counter() - t0, "ok": False}
        if traced:
            tr.close(op_span)
            tr.op = tr.op_span = None
            sc.setLocalProperty("spark.jobGroup.id", None)

        if err is None:
            try:
                out = op.output(result)
                rec["ok"], err = self.wl.check(op, out)
                rec["rows"] = op.rows(out)
                if isinstance(out, dict) and "bytes" in out:
                    rec["sink_bytes"] = out["bytes"]
            except Exception as e:
                err = f"check failed: {type(e).__name__}: {e}"[:500]
        if err:
            self.failed += 1
            self.failures.append(f"pass {p} {op.name}: {err}")
            rec["error"] = err
        if traced and built is not None:
            rec["catalyst"] = self._catalyst(op, built)
            if isinstance(built, dict):
                rec["tables"] = len(built)
        try:
            rec["ckpt_blocks"], rec["cached_mb"] = lifecycle_sample(self.spark)
        except Exception as e:
            rec["lifecycle_error"] = f"{type(e).__name__}: {e}"[:200]
        del built, result
        t1 = time.perf_counter()
        with tr.span("sweep", "lifecycle.sweep"):
            sweep(self.spark)
        rec["sweep_s"] = time.perf_counter() - t1
        return rec

    def _catalyst(self, op, built) -> dict:
        try:
            stats = [catalyst_stats(df) for df in op.frames(built)]
            return {k: sum(s[k] for s in stats) for k in stats[0]} if stats else {}
        except Exception as e:
            return {"error": f"{type(e).__name__}: {e}"[:200]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bht_etl_app_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.trace import Tracer, instrument
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = _cores()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _pin_env(run_dir, cores)
    write_inputs, load = WORKLOADS[args.workload]
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None

    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(os.path.join(run_dir, "setup"), ignore_errors=True)
            if event_log:
                shutil.rmtree(event_log, ignore_errors=True)
            t0 = time.perf_counter()
            inputs = write_inputs(os.path.join(run_dir, "setup"), args.seed)
            spark = start_session(run_dir, cores, event_log)
            setups.append(time.perf_counter() - t0)
        tracer = Tracer()
        if args.trace:
            instrument(tracer)
        workload = load(inputs)
        runner = Runner(spark, workload, tracer, cores)
        t_first = time.perf_counter()
        runner.run_pass(traced=bool(args.trace))
        min_warm = 2 if args.trace else 1
        while True:
            warm = len(runner.passes) - 1
            now = time.perf_counter()
            if warm >= min_warm and (now - t_first >= args.seconds or now - t_start >= HARD_CAP_S):
                break
            runner.run_pass(traced=bool(args.trace) and warm % 2 == 1)
        stop_session(spark)
        spark = None

        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "inputs": {k: v for k, v in inputs.items() if k in ("rows", "columns", "bytes")},
            "setups_s": setups,
            "fail_frac": runner.failed / runner.attempted,
            "failures": runner.failures[:10],
        }
        if args.trace:
            from perfbench.layers import layer_metrics

            metrics, extra = layer_metrics(runner, tracer, event_log, cores)
            detail.update(extra)
            os.makedirs(WORK, exist_ok=True)
            trace_path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
            tracer.dump(trace_path, {"detail": detail, "passes": runner.passes})
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            warm = [p["wall_s"] for p in runner.passes[1:]]
            detail["pass_s"] = quartiles(warm)
            cached = [o["cached_mb"] for p in runner.passes for o in p["ops"] if "cached_mb" in o]
            values = {
                "setup_s": statistics.median(setups),
                "first_pass_s": runner.passes[0]["wall_s"],
                "pass_s": statistics.median(warm),
                "cached_peak_mb": max(cached) if cached else None,
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        result["metrics"] = metrics
        print("detail: " + json.dumps(detail, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
