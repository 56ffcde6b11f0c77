"""KG-pipeline benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload build_wide --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``; the
program sees only those.  Set-up (session start, input generation and
materialization, one warm operation) is untimed in the loop.  Operations
then run back to back for ``--seconds``.  Outputs are checked afterwards.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs one untraced and then one traced
operation, and reports the per-layer metrics.
A line before it (``{"info": ...}``) carries the raw per-operation times
and the figures that are not gated.  ``--size smoke`` shrinks every input
so the harness, checks and counters run in seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
SETUP_REPS = 3  # input generation is repeated; setup_s takes the median
HEAP = "1536m"


def op_loop(wl, seconds: float, min_ops: int, first: int,
            tracer=None) -> tuple[list[float], list]:
    """Closed loop: the next operation starts when the previous returns.
    After ``min_ops`` operations, one more starts only if it would, at
    the median pace so far, end within ``seconds``.  The loop also ends
    when the workload's inputs run out."""
    import spans

    times, handles = [], []
    start = time.perf_counter()
    while wl.ops_left() and (
        len(times) < min_ops
        or time.perf_counter() - start + spans.median(times) <= seconds
    ):
        i = first + len(times)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                handle = wl.op(i)
            else:
                with tracer.span("op"):
                    handle = wl.op(i)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            handle = None
        times.append(time.perf_counter() - t0)
        handles.append(handle)
        if tracer is not None:
            tracer.collect()
    return times, handles


def tail(values: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"pct": round(100 * (n - 10) / n, 1), "value": sorted(values)[n - 11], "n": n}


def run(spark, workload: str, seed: int, seconds: float, trace: bool,
        size: str, work: str, session_s: float, rss) -> dict:
    import spans
    import workloads

    wl = workloads.WORKLOADS[workload](spark, work, seed, size)
    input_s = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.inputs(rep)
        input_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + spans.median(input_s) + warm_s

    # a traced run makes one untraced and then one traced operation (each
    # holds the full mix of work): enough for trace_overhead_frac, and it
    # keeps the traced run short
    times, handles = op_loop(wl, 0 if trace else seconds, 1 if trace else wl.MIN_OPS, 0)
    peak_mb = rss.peak_mb
    extra_fail = 0
    layer = {}
    if trace:
        tracer = spans.Tracer(spark, CORES)
        with spans.patched(workloads.pipeline_patches(tracer)):
            t_times, t_handles = op_loop(wl, 0, 1, len(times), tracer)
        layer = tracer.metrics(len(t_times))
        layer.update(wl.traced_extras(len(t_times), tracer))
        layer["trace_overhead_frac"] = spans.median(t_times) / spans.median(times) - 1
        layer.update(rss.part_metrics())
        if workload == "build_wide":
            ops, extra_fail = workloads.operator_pass(spark, work, seed, tracer)
            layer.update(ops)
        handles = handles + t_handles
    else:
        t_times = []

    quarantine = wl.quarantine_frac()
    ok = wl.check(handles)
    failed = sum(not x for x in ok) + extra_fail
    attempted = len(handles) + (len(spans.OP_QUERIES) if trace and workload == "build_wide" else 0)
    op_s = spans.median(times)
    info = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "op_s": [round(t, 4) for t in times], "op_s_tail": tail(times),
        "traced_op_s": [round(t, 4) for t in t_times],
        "session_s": round(session_s, 3), "input_s": [round(t, 3) for t in input_s],
        "warm_s": round(warm_s, 3), "turns_per_op": wl.n_turns,
        "turns_per_s": wl.n_turns / op_s if op_s else 0.0,
        "failed_frac": failed / attempted, "quarantine_frac": quarantine,
    }
    print(json.dumps({"info": info}), flush=True)
    if trace:
        names = spans.per_layer_names()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u, _ in names}
    else:
        metrics = {
            "op_s_p50": {"value": op_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def start_spark(work: str):
    """Session for the run, with every scratch directory inside ``work``."""
    root = os.getcwd()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # a fixed-size heap, touched up front, keeps peak memory from varying
    # with when the collector chose to grow the heap
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    sys.path.insert(0, root)
    from omop_concept_automapper_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=CORES, shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # the traced run reads every job and stage back from the status
            # store, so none may be evicted during a run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["build_wide", "fold_delta"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import spans

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        with spans.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            spark.range(1).count()
            session_s = time.perf_counter() - t0
            result = run(spark, args.workload, args.seed, args.seconds,
                         bool(args.trace), args.size, work, session_s, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
