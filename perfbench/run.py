"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run builds the Spark session at
local[nproc] through the program's own session factory, generates its
inputs from --seed, warms up (a first, cold operation of the workload),
runs its operations in a closed loop for --seconds, checks the outputs,
and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics (layers a workload does not
exercise read 0). The run's context (Spark master, driver memory, load
average and CPU steal at start and end, sample counts, checks) goes to
stderr and, with the trace spans, to .perfbench_work/results/.

Exit codes: 0 all checks passed; 1 a check or an operation failed;
2 the program under test or the workload is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def assemble(declared, measured):
    """{name: {value, unit}} for every declared metric; a measured name
    that is not declared is an error, a declared one not measured reads 0."""
    extra = set(measured) - set(declared)
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    return {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def end_to_end_metrics(wl, build_s, warm_s, ops):
    """The end-to-end metrics of one untraced run of workload `wl` from its
    op records."""
    return {
        "setup_s": build_s + warm_s,
        "op_cpu_s": wl.op_cpu_s(ops),
    }


def jit_share(ops):
    """JIT compiler CPU over all CPU of the timed ops: the part op_cpu_s
    leaves out."""
    jit = sum(o["jit_s"] for o in ops)
    total = jit + sum(o["cpu_s"] for o in ops)
    return jit / total if total else 0.0


def _prepare_env(work):
    """Scratch locations inside the checkout, and the program on the
    PYTHONPATH that the JVM and its Python UDF workers inherit."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived spark-submit launcher JVM: no /tmp/hsperfdata files
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_jvm(spark):
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(workload_name, seed, seconds, trace, work):
    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS, Context

    ctx = Context(seed, work)
    wl = WORKLOADS[workload_name]()
    ctx.tracer = H.Tracer(None, f"{workload_name}-{seed}", trace)
    context = {"workload": workload_name, "seed": seed, "seconds": seconds,
               "trace": trace, "master": H.spark_master(),
               "driver_memory": H.DRIVER_MEMORY, "host_start": H.host_reading()}

    try:
        with ctx.span("session.build"):
            build_s, ctx.spark = H.timed(H.build_spark, work)
        ctx.tracer.rebind(ctx.spark)
        context["inputs_s"], _ = H.timed(wl.prepare, ctx)
        with ctx.span("session.warmup"):
            warm_s, _ = H.timed(wl.warm, ctx)
        log(f"setup: build {build_s:.2f}s, warm-up {warm_s:.2f}s; "
            f"inputs {context['inputs_s']:.2f}s")

        jvm = H.jvm_pid(ctx.spark)
        rss = H.RssSampler(jvm) if trace else contextlib.nullcontext()
        with rss:
            deadline = time.perf_counter() + seconds
            while (len(ctx.op_log) < wl.MIN_OPS
                   or time.perf_counter() < deadline or not wl.pass_done()):
                i = len(ctx.op_log)
                c0, j0 = H.tree_cpu_s(jvm), H.jit_cpu_s(jvm)
                t0 = time.perf_counter()
                try:
                    info, ok = wl.op(ctx, i), True
                except Exception:
                    log(f"op {i} failed:\n{traceback.format_exc()}")
                    info, ok = {}, False
                wall = time.perf_counter() - t0
                # the JIT's compiler threads keep compiling for several ops
                # after the warm-up, by amounts that vary from run to run:
                # their CPU is counted apart from the op's
                jit = H.jit_cpu_s(jvm) - j0
                ctx.op_log.append({"i": i, "s": wall,
                                   "cpu_s": H.tree_cpu_s(jvm) - c0 - jit,
                                   "jit_s": jit, "ok": ok, **info})
        context["host_end"] = H.host_reading()

        traced_layers = wl.traced(ctx) if trace else {}
        context["check_s"], checks = H.timed(wl.check, ctx)
    finally:
        context["stop_s"], _ = H.timed(_stop_jvm, ctx.spark)

    ops = [o for o in ctx.op_log if o["ok"]] or ctx.op_log
    lat = [o["s"] for o in ops]
    attempted = len(ctx.op_log)
    failed = sum(1 for o in ctx.op_log if not o["ok"])
    failed = min(attempted, failed + sum(c["covers"] for c in checks
                                         if not c["ok"]))
    correct = failed == 0 and all(c["ok"] for c in checks)
    tail = H.tail_percentile(len(lat))
    context.update({
        "ops": attempted, "op_seconds": [round(o["s"], 4) for o in ctx.op_log],
        "op_cpu_seconds": [round(o["cpu_s"], 3) for o in ctx.op_log],
        "op_jit_seconds": [round(o["jit_s"], 3) for o in ctx.op_log],
        "tail_pct": tail, "tail_s": H.percentile(lat, tail) if tail else None,
        "build_s": build_s, "warmup_s": warm_s, "checks": checks,
    })

    e2e, layer_units = declared_metrics()
    if not trace:
        metrics = assemble(e2e, end_to_end_metrics(wl, build_s, warm_s, ops))
    else:
        measured = dict(traced_layers)
        overhead = measured.pop("trace.overhead_share")
        measured.update(ctx.layers)
        if set(measured) != set(wl.LAYER_METRICS):
            raise KeyError(f"{workload_name} measured {sorted(measured)}, "
                           f"declares {sorted(wl.LAYER_METRICS)}")
        measured.update({f"spark.{k}": v
                         for k, v in ctx.tracer.totals().items()})
        measured.update({
            "session.build_s": build_s,
            "session.warmup_s": warm_s,
            "trace.overhead_share": overhead,
            "doc_error_share": ctx.doc_error_share,
            "ops_failed_share": failed / attempted,
            "host.peak_rss_mb": rss.peak_mb,
            "ops.p50_s": H.median(lat),
            "jvm.jit_cpu_share": jit_share(ops),
        })
        metrics = assemble(layer_units, measured)
        context["spans"] = [
            {k: s[k] for k in ("id", "name", "parent", "run_id", "jobs",
                               "stages", "tasks", "failed_tasks")}
            | {"start": s["start"] - ctx.tracer.spans[0]["start"],
               "end": s["end"] - ctx.tracer.spans[0]["start"]}
            for s in ctx.tracer.spans]
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, context


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"the program under test is not in {ROOT}")
        return 2
    if importlib.util.find_spec("pyspark") is None:
        log("pyspark is not installed")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    _prepare_env(work)
    try:
        result, context = run(args.workload, args.seed, args.seconds,
                              bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = {k: v for k, v in context.items() if k != "spans"}
    log("context " + json.dumps(summary, default=str))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump({"result": result, "context": context}, f, indent=1,
                  default=str)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
