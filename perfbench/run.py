"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload web_pipeline --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from ``--seed`` (cached as parquet under
``.perfbench/inputs``), starts a ``local[<cores>]`` Spark session through
``graphblast_spark.session.get_spark``, runs the workload's set-up, then
operations until ``--seconds`` have passed (at least one), checking
every operation's outputs against single-process references. Prints
every metric by name with its unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# The wall time of an operation, as its caller sees it, and the CPU
# seconds of the driver's process tree (the Spark JVM and its Python
# workers) it costs: CPU time the hypervisor gives other guests stretches
# the first and not the second; other guests contending for the host's
# caches and memory raise both. Per-call PR and CC figures, and the
# superstep throughput, are per-layer only: the warm PR of
# incremental_refresh takes 3 to 6 supersteps depending on the seed.
E2E_UNITS = {
    "setup_s": "s",
    "op_s": "s",
    "op_cpu_s": "s",
}
LAYERS = (
    "session",
    "sources.distill",
    "matrix.build",
    "algorithms.pagerank",
    "algorithms.cc",
    "algorithms.lp",
    "algorithms.tc",
    "streaming.ingest",
)
COUNTER_UNITS = {
    "wall_s": "s",
    "cpu_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_failures": "count",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "executor_run_s": "s",
    "driver_share": "ratio",
}
LAYER_EXTRA_UNITS = {
    "sources.distill.pages_per_s": "1/s",
    "sources.distill.edges_out": "count",
    "matrix.build.kept_ratio": "ratio",
    "algorithms.pagerank.prep_s": "s",
    "algorithms.pagerank.supersteps": "count",
    "algorithms.pagerank.superstep_s": "s",
    "algorithms.cc.supersteps": "count",
    "algorithms.cc.superstep_s": "s",
    "algorithms.lp.superstep_s": "s",
    "algorithms.edges_per_cpu_s": "1/s",
    "algorithms.tc.triangles": "count",
    "runtime.superstep.checkpoint_mb": "MB",
    "streaming.ingest.log_mb": "MB",
}
RUN_UNITS = {
    # per-layer, not end-to-end: the engine's default 8 GB heap grows at
    # the collector's discretion, which spread it by 0.26 over ten seeds
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
    "trace.setup_s": "s",
    "trace.op_s": "s",
    "trace.overhead_s": "s",
    "context.cores": "count",
    "context.load1": "load",
    "context.steal_share": "ratio",
    "context.pages": "count",
    "context.vertices": "count",
    "context.edges": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTER_UNITS.items()}
    units.update(LAYER_EXTRA_UNITS)
    units.update(RUN_UNITS)
    return units


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default",
                   help="input size; 'tiny' is for the benchmark's smoke tests")
    return p.parse_args(argv)


def _layer_metrics(tracer, setup_spans, ops, context, rss, failed, attempted):
    from perfbench.stats import fail_ratio, median

    out = {}
    for layer in LAYERS:
        for c in COUNTER_UNITS:
            if layer == "session":
                vals = [setup_spans[0].counters[c]]
            else:
                vals = [
                    s.counters[c]
                    for op in ops
                    for s in tracer.children(op.root)
                    if s.name == layer
                ]
            out[f"{layer}.{c}"] = median(vals) if vals else 0.0
    for name in LAYER_EXTRA_UNITS:
        vals = [op.layer[name] for op in ops if name in op.layer]
        out[name] = median(vals) if vals else 0.0
    out["peak_rss_mb"] = rss
    out["fail_ratio"] = fail_ratio(failed, attempted)
    out["trace.setup_s"] = sum(s.wall_s for s in setup_spans)
    out["trace.op_s"] = median(op.e2e["op_s"] for op in ops)
    out["trace.overhead_s"] = median(op.trace_overhead_s for op in ops)
    for k, v in context.items():
        out[f"context.{k}"] = float(v)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import graphblast_spark
    except ImportError:
        print(f"perfbench: no graphblast_spark package in {ROOT}", file=sys.stderr)
        return 2
    if not os.path.abspath(graphblast_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: graphblast_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    from perfbench import sparkenv
    from perfbench.stats import median
    from perfbench.trace import Tracer, cpu_steal, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    sparkenv.isolate(run_dir)
    tracer = Tracer(counters=bool(args.trace), cores=cores)
    wl = WORKLOADS[args.workload](
        tracer, os.path.join(run_dir, "work"), args.size, args.seed, os.path.join(WORK, "inputs")
    )
    context = {"cores": cores, "load1": load1, **wl.prepare()}
    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        + " ".join(f"{k}={v}" for k, v in context.items()),
        flush=True,
    )

    spark = None
    attempted = failed = 0
    ops, problems = [], []

    def run_op(i: int):
        nonlocal attempted, failed
        attempted += 1
        before = tracer.overhead_s
        try:
            res = wl.op(i)
            res.trace_overhead_s = tracer.overhead_s - before
            bad = wl.check(res)
            if args.trace:
                res.layer.update(wl.layer_counts(res))
            wl.release(res)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            failed += 1
            return None
        if bad:
            problems.extend(f"op {i}: {b}" for b in bad)
            failed += 1
            return None
        return res

    try:
        with tracer.span("session") as session:
            spark = sparkenv.start(cores, run_dir)
            tracer.attach(spark)
        with tracer.span("setup") as setup:
            wl.setup(spark)
        problems.extend(f"set-up: {b}" for b in wl.check_setup())
        steal0 = cpu_steal()
        t0 = time.perf_counter()
        i = 0
        while wl.ops_left():
            sparkenv.collect_garbage(spark)  # untimed
            res = run_op(i)
            if res is not None:
                ops.append(res)
            i += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
        steal1 = cpu_steal()
        context["steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        pids = [os.getpid(), spark.sparkContext._jvm.ProcessHandle.current().pid()]
        rss = peak_rss_mb(pids)
    finally:
        if spark is not None:
            sparkenv.stop(spark)
        if args.trace:
            tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        f"set-up: wall {session.wall_s + setup.wall_s} s; steal_share={context['steal_share']}; "
        f"peak_rss_mb={rss}",
        flush=True,
    )
    for i, op in enumerate(ops):
        print(f"op {i}: " + " ".join(f"{k}={v}" for k, v in op.e2e.items()), flush=True)
    for p in problems:
        print(f"check failed: {p}", flush=True)
    if not ops:
        print("perfbench: no measured operation succeeded", file=sys.stderr)
        return 1
    e2e = {k: median(op.e2e[k] for op in ops) for k in E2E_UNITS if k in ops[0].e2e}
    e2e["setup_s"] = session.cpu_s + setup.cpu_s
    if args.trace:
        metrics = _layer_metrics(tracer, (session, setup), ops, context, rss, failed, attempted)
        units = per_layer_units()
    else:
        metrics, units = e2e, E2E_UNITS
    print(
        f"ops: measured {len(ops)}, attempted {attempted}, failed {failed}, "
        f"fail_ratio {failed / attempted}; checks {'passed' if not problems and not failed else 'FAILED'}"
    )
    for name in units:
        print(f"{name} = {metrics[name]} {units[name]}")
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the engine and this package from the checkout
    sys.exit(main())
