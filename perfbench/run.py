"""Benchmark entry point: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The run generates its inputs from the seed
under ``.bench_work/``, sets up the session three times (the reported
``setup_s`` is the median), runs a checked warm-up operation and a fixed
number of untimed ones, then issues operations back to back for
``--seconds`` seconds and at least the workload's ``min_ops`` operations,
checking every output.  The last stdout line is the result object; the
line before it carries the workload's own named metrics and the input
sizes.  ``--trace 1`` alternates plain and traced operations and reports
per-layer metrics instead of end-to-end ones.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
HEAP = "2g"

#: the bounded end-to-end metrics -> unit.  Wall-time latency and
#: throughput are printed too (see _named) but not bounded: on a shared VM
#: they move 30-50% between identical runs, process CPU time 13-17%.
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

#: per-layer metric -> unit; a layer the workload does not run reports 0
LAYERS = {
    "session.get_spark_s": "s",
    "session.load_s": "s",
    "session.warm_cache_s": "s",
    "estimator.fit_self_s": "s",
    "estimator.transform_self_s": "s",
    "estimator.transform_jobs": "count",
    "boosting.prep_s": "s",
    "boosting.fit_stump_s": "s",
    "boosting.fit_stump_jobs": "count",
    "boosting.fit_stump_tasks": "count",
    "boosting.fit_stump_shuffle_mb": "MB",
    "boosting.fit_stump_spill_mb": "MB",
    "boosting.candidate_rows": "count",
    "boosting.update_weights_s": "s",
    "boosting.update_weights_jobs": "count",
    "boosting.update_weights_shuffle_mb": "MB",
    "boosting.score_model_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.idle_share": "share",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "python_worker_cpu_s": "s",
    "plans.release_outstanding_s": "s",
    "trace.overhead_s": "s",
}


def _layer_names() -> dict:
    from workloads import HEADLINE, MODULES

    out = dict(LAYERS)
    for m in MODULES:
        out.update({f"{m}.s": "s", f"{m}.jobs": "count", f"{m}.shuffle_mb": "MB"})
    out.update({f"query.{n}.s": "s" for n in HEADLINE})
    return out


def _phase(name: str) -> None:
    """Progress on stderr: where a slow run spends its time."""
    print(f"perfbench: {name} at {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr, flush=True)


def _percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def _launch_env(work: str) -> None:
    """The benchmark's own launch environment: all cores, a JVM heap
    well below physical memory, and every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher included: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse-dir')} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark, tree) -> None:
    """Stop the session, the JVM and every worker it started; wait for all."""
    from pyspark import SparkContext

    pids = tree.pids()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:
        pass
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spark_multiboost_spark", "__init__.py")):
        print("perfbench: the spark_multiboost_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _launch_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _run(args, work: str) -> int:
    import instrument
    import workloads
    from spark_multiboost_spark.session import get_spark

    w = workloads.make(args.workload, work, args.seed)
    inputs = w.generate()
    _phase("inputs ready")

    # --- set-up, repeated: each rep starts a fresh SparkContext (the first
    # also launches the JVM) and loads the workload's inputs
    spark, setups, layer_setup = None, [], {}
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        parts = w.load(spark)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        _phase(f"set-up {len(setups)} took {t2 - t0:.2f} s")
        for k, v in {"session.get_spark_s": t1 - t0, "session.load_s": t2 - t1, **parts}.items():
            layer_setup.setdefault(k, []).append(v)
    spark.sparkContext.setLogLevel("ERROR")
    tree = instrument.ProcTree(spark.sparkContext._gateway.proc.pid)
    cores = spark.sparkContext.defaultParallelism
    first_op_at = time.perf_counter() - T_START

    attempted = failed = 0
    errors: list[str] = []

    def account(res) -> None:
        nonlocal attempted, failed
        attempted += res.units
        failed += min(res.units, len(res.errors))
        errors.extend(res.errors)

    try:
        # warm-up, never timed: the checked warm_up operation, then a fixed
        # count of plain ones (a count, not a time, so the JIT has seen the
        # same work whatever the host's speed)
        res, named = w.warm_up(spark)
        account(res)
        for _ in range(w.warm_ops):
            res = w.op(spark)
            w.check(res)
            account(res)

        _phase("warm-up done")
        tracer = instrument.Tracer(spark) if args.trace else None
        plain, traced, blocks = [], [], []
        t_begin = time.perf_counter()
        i = 0
        # trace runs alternate blocks of plain and traced operations and
        # stop after a plain block, so the plain blocks bracket the traced
        # ones and the JVM's warm-up trend cancels out of the overhead
        while (time.perf_counter() - t_begin < args.seconds or i < w.min_ops
               or (args.trace and (i < 3 * w.block or i % w.block
                                   or (i // w.block) % 2 == 0))):
            t_iter = time.perf_counter()
            is_traced = bool(args.trace) and (i // w.block) % 2 == 1
            c0, g0 = tree.cpu_s(), instrument.gc_seconds(spark.sparkContext)
            pw0 = tree.worker_cpu_s() if is_traced else 0.0
            t0 = time.perf_counter()
            try:
                res = w.traced_op(spark, tracer) if is_traced else w.op(spark)
                wall = time.perf_counter() - t0
                w.check(res)
            except Exception as e:  # a failed operation is counted, not fatal
                wall = time.perf_counter() - t0
                traceback.print_exc()
                res = workloads.Result(errors=[f"{type(e).__name__}: {str(e)[:300]}"])
            sample = {"wall": wall, "cpu": tree.cpu_s() - c0, "label": res.label,
                      "gc": instrument.gc_seconds(spark.sparkContext) - g0}
            account(res)
            sample["cycle"] = time.perf_counter() - t_iter  # op, check and bookkeeping
            if is_traced:
                spans = tracer.take()
                if i % w.block == 0:
                    blocks.append([])
                if not res.errors:
                    blocks[-1].append(_op_layers(w, spans, sample,
                                                 tree.worker_cpu_s() - pw0))
                traced.append(sample)
            else:
                plain.append(sample)
            i += 1

        _phase(f"measured {i} operations")
        extras = {}
        if args.trace and hasattr(w, "trace_extras"):
            extras, extra_errors = w.trace_extras(spark)
            attempted += 1
            failed += bool(extra_errors)
            errors.extend(extra_errors)
        peak_mb = tree.peak_rss_mb()
    finally:
        _stop(spark, tree)
        _phase("stopped")

    # statistics per operation kind (the query, for query_mix), so that
    # how many kinds got a second sample in the window cannot shift them
    walls = [s["wall"] for s in plain]
    by_kind: dict = {}
    for s in plain:
        by_kind.setdefault(s["label"], []).append(s)
    e2e = {
        "setup_s": statistics.median(setups),
        "op_s": statistics.median(statistics.median(x["wall"] for x in v)
                                  for v in by_kind.values()),
        "op_s.p90": _percentile(walls, 90),
        # each kind's median, then the mean over kinds: on query_mix, the
        # CPU of one full pass divided by 17
        "op_cpu_s": statistics.mean(statistics.median(x["cpu"] for x in v)
                                    for v in by_kind.values()),
        # completed operations over the wall time they took, checks and
        # bookkeeping included: the whole window on an untraced run
        "ops_per_s": len(plain) / sum(s["cycle"] for s in plain),
    }
    named.update(_named(args.workload, w, by_kind, e2e, attempted, failed))
    named["process_to_first_op_s"] = first_op_at
    named["peak_rss_mb"] = peak_mb
    named["samples"] = len(walls)
    named["op_walls"] = walls
    named["op_cpus"] = [s["cpu"] for s in plain]

    if args.trace:
        layers = {k: 0.0 for k in _layer_names()}
        layers.update({k: statistics.median(v) for k, v in layer_setup.items()})
        per_block = [_sum_block(b, cores) for b in blocks if len(b) == w.block]
        for k in per_block[0] if per_block else ():
            layers[k] = statistics.median(b[k] for b in per_block)
        layers.update(extras)
        layers["jvm.peak_rss_mb"] = peak_mb
        n = w.block
        block_wall = lambda ss: [sum(s["wall"] for s in ss[j:j + n])
                                 for j in range(0, len(ss) - n + 1, n)]
        layers["trace.overhead_s"] = (statistics.median(block_wall(traced))
                                      - statistics.median(block_wall(plain)))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in _layer_names().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}

    for e in errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": inputs,
                      "named_metrics": named}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def _op_layers(w, spans, sample, worker_cpu) -> dict:
    """Per-layer numbers of one traced operation."""
    out = {
        "spark.jobs": sum(s.jobs for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
        "spark.failed_tasks": sum(s.failed_tasks for s in spans),
        "spark.executor_cpu_s": sum(s.cpu_ns for s in spans) / 1e9,
        "jvm.gc_s": sample["gc"],
        "python_worker_cpu_s": worker_cpu,
        "_run_s": sum(s.run_ms for s in spans) / 1000.0,
        "_wall": sample["wall"],
    }
    out.update(w.layers(spans))
    return out


def _sum_block(ops: list[dict], cores: int) -> dict:
    """One traced block (a fit and score, or a full query pass): sums, plus
    the share of core time no task was running."""
    out: dict = {}
    for op in ops:
        for k, v in op.items():
            out[k] = out.get(k, 0) + v
    out["spark.idle_share"] = 1.0 - out.pop("_run_s") / (out.pop("_wall") * cores)
    return out


def _named(workload: str, w, by_kind, e2e, attempted, failed) -> dict:
    """The workload's end-to-end metrics under their own names."""
    common = {k: e2e[k] for k in ("setup_s", "op_cpu_s", "op_s", "ops_per_s")}
    common["error_rate"] = failed / attempted
    if workload.startswith("train"):
        return {**common, "op_s.p90": e2e["op_s.p90"]}
    complete = len(by_kind) == len(w.queries)
    return {**common, "query_s.p90": e2e["op_s.p90"],
            "mix_pass_s": sum(statistics.median(x["wall"] for x in v)
                              for v in by_kind.values()) if complete else None,
            "mix_cpu_s": sum(statistics.median(x["cpu"] for x in v)
                             for v in by_kind.values()) if complete else None}


if __name__ == "__main__":
    sys.exit(main())
