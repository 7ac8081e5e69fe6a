"""Layered benchmark of the pipeline engine; BENCHMARK.json describes it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a source checkout. It generates the workload's
inputs from the seed, starts ``local[<cores>]``, runs unmeasured
warm-up passes, then runs the workload's operations as a closed loop (one
client, one operation at a time) until ``--seconds`` have elapsed and
each operation has run, and checks every operation's output. Work files
live under ``.bench_work/`` in the checkout and are removed at exit.

stdout ends with two JSON lines: a detail record (host, inputs, every
operation with its phase times, the op-latency tail with its percentile
and sample count, failures by name and cause) and the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` registers the tracer and reports
the per-layer metrics, read after each operation's timed window closes.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

STARTED = time.perf_counter()  # setup_s runs from here to the first timed op
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure(root: str, work: str) -> dict[str, str]:
    """Put the checkout on the import path and every scratch location of
    Spark, its JVMs, its Python workers and the program's ``tempfile``
    users inside ``work``; return the benchmark's Spark settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Both JVMs, spark-submit's launcher included; no hsperfdata in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # Python workers import the program from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    return {"spark.ui.showConsoleProgress": "false"}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _tail(latencies: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n <= 10:
        return {"percentile": None, "samples": n, "value_s": None}
    return {"percentile": round(100 * (n - 10) / n, 1), "samples": n,
            "value_s": sorted(latencies)[n - 11]}


def _host(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "cores": cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "spark": spark.version,
        "python": platform.python_version(),
    }


def bench(args, spec: dict, work: str, extra_conf: dict[str, str]) -> tuple[dict, dict]:
    import layers  # noqa: PLC0415 - imported once the environment is set
    import workloads  # noqa: PLC0415

    from big_data_pipeline_spark.session import get_spark  # noqa: PLC0415

    t0 = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed)
    inputs_s = time.perf_counter() - t0
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra_conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = layers.Tracer(spark) if args.trace else None
    try:
        ops: list[tuple[bool, workloads.OpResult]] = []

        def run_op(q: str, timed: bool) -> None:
            op, output = wl.run_op(spark, q)
            if op.error is None:
                op.error = wl.check(q, output)
            if tracer is not None:
                c0 = time.perf_counter()
                op.layers = {**tracer.collect(wl.exec_groups()),
                             **wl.op_layers(op, output)}
                op.layers["trace.collect_s"] = time.perf_counter() - c0
            ops.append((timed, op))

        t0 = time.perf_counter()
        for _ in range(wl.warmup_passes):
            for q in wl.order:
                run_op(q, timed=False)
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - STARTED
        # Stop after the operation that crosses the deadline, once every
        # operation ran: waiting for a whole pass would stretch a run by up
        # to a pass on a slow host.
        n_timed = 0
        deadline = time.perf_counter() + args.seconds
        while n_timed < len(wl.order) or time.perf_counter() < deadline:
            run_op(wl.order[n_timed % len(wl.order)], timed=True)
            n_timed += 1
        peak_rss = tracer.jvm_peak_rss_mb() if tracer is not None else None
        host = _host(spark, cores)
    finally:
        if tracer is not None:
            spark.streams.removeListener(tracer.listener)
        _stop(spark)

    timed_ops = [op for timed, op in ops if timed]
    by_op: dict[str, list[workloads.OpResult]] = {}
    for op in timed_ops:
        by_op.setdefault(op.name, []).append(op)
    # Per-operation medians: operations run unequally often once the
    # deadline cuts a pass, so a pooled median could jump between them.
    op_median_s = {q: statistics.median(op.latency_s for op in v) for q, v in by_op.items()}
    wall_s = sum(op_median_s.values())
    failures = [{"op": op.name, "timed": timed, "error": op.error}
                for timed, op in ops if op.error]
    if args.trace:
        values = _layer_metrics(by_op, cores)
        values["session.start_s"] = start_s
        values["session.jvm_peak_rss_mb"] = peak_rss
        values["trace.wall_s"] = wall_s
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "op_p50_s": statistics.median(op_median_s.values())}
    # A layer that does no work on this workload reports 0.
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
                    for m in spec["per_layer" if args.trace else "end_to_end"]},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "inputs": wl.inputs(),
        "setup": {"total_s": setup_s, "inputs_s": inputs_s,
                  "session_start_s": start_s, "warmup_s": warmup_s},
        "timed_ops": len(timed_ops),
        "op_median_s": op_median_s,
        "op_tail": _tail([op.latency_s for op in timed_ops]),
        "failed_frac": len(failures) / len(ops),
        "failures": failures,
        "ops": [
            {"op": op.name, "timed": timed, "build_s": op.build_s,
             "exec_s": op.exec_s, "ok": op.error is None, **op.layers}
            for timed, op in ops
        ],
    }
    return result, detail


def _layer_metrics(by_op: dict[str, list], cores: int) -> dict:
    """One pass's worth of each layer metric: per operation the median over
    its timed runs, summed over the operations."""
    out: dict[str, float] = {}
    for runs in by_op.values():
        for k in {k for op in runs for k in op.layers}:
            out[k] = out.get(k, 0) + statistics.median(op.layers.get(k, 0) for op in runs)
    exec_s = out.get("exec.exec_s", 0)
    out["exec.core_util"] = out.get("exec.executor_run_s", 0) / (exec_s * cores) if exec_s else 0.0
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "big_data_pipeline_spark"))):
        print("perfbench: run from the root of a source checkout "
              "(no __spark_entry__.py or big_data_pipeline_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # metric names and units
    base = os.path.join(root, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        extra_conf = _configure(root, work)
        import workloads  # noqa: PLC0415 - imports the program

        if args.workload not in workloads.NAMES:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {', '.join(workloads.NAMES)}", file=sys.stderr)
            return 2
        result, detail = bench(args, spec, work, extra_conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
