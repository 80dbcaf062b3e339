#!/usr/bin/env python3
"""Layer-attributed benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload headline_mix --seed 1 --seconds 10 --trace 0

One thread runs a workload's operations in a closed loop (the
next operation starts when the previous one has finished) on
``local[nproc]``. Set-up (session start, input generation, one
discarded warm-up pass) is timed as ``setup_s``; then whole passes run
until ``--seconds`` have elapsed; then the outputs are checked once,
untimed. The last line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of ``BENCHMARK.json`` when ``--trace 0``
and its ``per_layer`` metrics when ``--trace 1``. The line before it is
a record of the run (machine, parallelism, load, input fingerprint,
sample counts, failure reasons). A traced run alternates untraced and
traced passes, so the tracing overhead is measured in the same run, and
writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "multi_sensor_data_pipeline_for_robotics__spark"
# what the benchmark runs: the engine, its registry, the frozen headline
# list, the pandas reference and the oracle comparison it reuses
REQUIRED = (
    f"{PKG}/__init__.py", "__spark_entry__.py", "bench.py",
    "tests/_pandas_reference.py", "tools/check_oracles.py", "BENCHMARK.json",
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def summarize(values: list[dict]) -> dict[str, float]:
    """Per-key median over the passes that measured the key."""
    keys = {k for v in values for k in v}
    return {k: statistics.median(v[k] for v in values if k in v) for k in keys}


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    import harness as H
    from workloads import WORKLOADS, Context

    import multi_sensor_data_pipeline_for_robotics__spark as pkg
    from multi_sensor_data_pipeline_for_robotics__spark import get_session

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"engine imported from {pkg.__file__}, not from {ROOT}")
    cores = H.nproc()
    load_start, steal_start = os.getloadavg(), H.cpu_steal()
    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    wl = WORKLOADS[args.workload]()
    try:
        spark.range(1).collect()  # the session is usable, not just built
        session_s = time.perf_counter() - t0
        tracer = H.Tracer()
        if args.trace:
            tracer.bind(spark)
        ctx = Context(spark, tracer, work, args.seed, cores)
        ctx.setup_metrics["session.start_s"] = session_s
        fingerprint = wl.setup(ctx)
        t_warm = time.perf_counter()
        warm, _ = wl.run_pass(ctx, 0, check=True)
        H.release_persisted(spark)
        warmup_s = time.perf_counter() - t_warm
        # after the warm-up, so the check's re-executions are warm; it is
        # untimed: its duration is taken out of setup_s
        t_check = time.perf_counter()
        wl.check(ctx)
        H.release_persisted(spark)
        check_s = time.perf_counter() - t_check + ctx.untimed_s
        setup_s = time.perf_counter() - T_START - check_s

        passes = []
        t_loop = time.perf_counter()
        p = 1
        while True:
            traced = bool(args.trace) and p % 2 == 0
            tracer.enabled = traced
            recs, sw = wl.run_pass(ctx, p)
            tracer.enabled = False
            n_rdds, persisted_mb = H.persisted_state(spark)
            H.release_persisted(spark)
            layers = wl.layer_metrics(ctx, recs) if traced else None
            passes.append({"p": p, "traced": traced, "records": recs, "wall": sw.wall, "cpu": sw.cpu,
                           "persisted_rdds": n_rdds, "persisted_mb": persisted_mb,
                           "layers": layers})
            p += 1
            kinds = {x["traced"] for x in passes}
            if time.perf_counter() - t_loop >= args.seconds and (
                    not args.trace or kinds == {True, False}):
                break
        peak_rss = H.jvm_peak_rss_mb(spark)
        steal_end = H.cpu_steal()
        parallelism = spark.sparkContext.defaultParallelism
        master = spark.sparkContext.master
    finally:
        wl.close()
        stop_spark(spark)

    # every timed result must equal the checked warm-up result of its key
    reference = {r.key: r.results for r in warm if r.error is None and r.results}
    timed = [x for x in passes if not x["traced"]]
    records = [r for x in passes for r in x["records"]]
    attempted, failed, reasons = H.count_failures(records, reference, ctx.failed_keys)
    ops = [t for x in timed for t in wl.op_times(x["records"])]
    pass_s = statistics.median(x["wall"] for x in timed)
    ticks = steal_end[1] - steal_start[1]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "default_parallelism": parallelism, "master": master,
        "suspect_cpus_ignored": parallelism != cores,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        # share of the machine's CPU time the hypervisor took while the
        # run lasted: wall-time metrics of a run with a high share are
        # suspect, CPU-time metrics much less so
        "steal_frac": (steal_end[0] - steal_start[0]) / ticks if ticks else 0.0,
        "input_fingerprint": fingerprint,
        "session_s": round(session_s, 3), "warmup_s": round(warmup_s, 3),
        "check_s": round(check_s, 3),
        "passes": len(passes), "pass_walls_s": [round(x["wall"], 4) for x in passes],
        "warmup_op_walls_s": {r.id: round(r.wall, 4) for r in warm},
        "op_walls_s": {r.id: round(r.wall, 4) for r in passes[0]["records"]},
        "pass_cpu_s": [round(x["cpu"], 3) for x in passes],
        "failed_frac": failed / attempted if attempted else 0.0,
        "persisted_mb": statistics.median(x["persisted_mb"] for x in passes),
        "failures": reasons + ctx.check_reasons,
        "check": ctx.check_metrics,
    }
    # every end-to-end figure, with its unit; BENCHMARK.json gates the
    # ones that repeat on a host whose hypervisor steals CPU time (the
    # wall-clock pass and operation latencies do not: see perfbench/BASELINE.md)
    record["metrics"] = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(x["cpu"] for x in timed), "unit": "s"},
        "op_p50_s": {"value": statistics.median(ops), "unit": "s", "samples": len(ops)},
        "failed_frac": {"value": record["failed_frac"], "unit": "fraction"},
        "persisted_mb": {"value": record["persisted_mb"], "unit": "MB"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }
    if H.p90(ops) is not None:
        record["metrics"]["op_p90_s"] = {"value": H.p90(ops), "unit": "s", "samples": len(ops)}
    if not args.trace:
        values = {k: v["value"] for k, v in record["metrics"].items()}
        declared = spec["end_to_end"]
    else:
        traced = [x for x in passes if x["traced"]]
        values = summarize([x["layers"] for x in traced])
        values.update(ctx.setup_metrics)
        values.update(ctx.check_metrics)
        values["cache.persisted_rdds"] = statistics.median(x["persisted_rdds"] for x in traced)
        values["cache.persisted_mb"] = statistics.median(x["persisted_mb"] for x in traced)
        values["failed_frac"] = record["failed_frac"]
        values["peak_rss_mb"] = peak_rss
        values["wall.pass_s"] = pass_s
        values["wall.op_p50_s"] = statistics.median(ops)
        values["trace.pass_s"] = statistics.median(x["wall"] for x in traced)
        values["trace.overhead_s"] = values["trace.pass_s"] - pass_s
        # operation ids start with their pass: "p<n>:"
        traced_passes = {f"p{x['p']}" for x in traced}
        spans = [s for s in ctx.tracer.spans if s.op and s.op.split(":")[0] in traced_passes]
        gaps = H.reconcile_gaps(spans)
        if gaps:
            values["trace.reconcile_max_gap"] = max(gaps)
        record["reconcile_ops"] = len(gaps)
        record["layer_self_s"] = {k: round(v, 6) for k, v in H.layer_self_time(spans).items()}
        out = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"record": record, "spans": H.span_rows(spans)}, f)
        record["trace_file"] = os.path.relpath(out, ROOT)
        declared = spec["per_layer"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"{args.workload} does not measure {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    result = {"correct": failed == 0 and not ctx.failed_keys, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import harness as H
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(H.nproc())  # local[nproc]
    try:
        record, result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
