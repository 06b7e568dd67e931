"""perfbench: end-to-end and per-layer benchmark of lshrs_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload online_serve --seed 1 --seconds 10 --trace 0

Workloads: online_serve and ingest_serve (see spec.json). The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the seed, sizes and sample counts. A traced
run also writes its spans to ``.perfbench_out/`` in the checkout.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end. The run exits non-zero, without a
result line, when ``lshrs_spark`` cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
GEN_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_env(work: str) -> int:
    """Settings the JVM and Python workers inherit at launch: a private
    temporary area, a JVM heap that fits a small host, no console
    progress bar, and the checkout on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a heap committed and touched up front makes the JVM's resident
    # size the configured heap, not a function of when G1 chose to grow
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return len(os.sched_getaffinity(0))


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _stop_spark(spark, proc) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it."""
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, spec: dict, work: str, cpus: int):
    import numpy as np

    import gen
    from lshrs_spark.session import get_spark
    from tracing import Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS, Ctx, span_layers

    tracer = Tracer(args.trace == 1)
    steal0 = _cpu_steal()
    with tracer.span("bench.run"):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        proc = _jvm_proc()
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark.sparkContext)
            gens = []
            with tracer.span("bench.generate"):
                for r in range(GEN_REPS):
                    t0 = time.perf_counter()
                    out = os.path.join(work, f"inputs-{r}")
                    inputs = gen.generate(args.seed, spec, args.workload, out)
                    gens.append(time.perf_counter() - t0)
            with tracer.span("bench.truth"):
                if "queries" in inputs:
                    corpus = inputs["corpus"]
                    inputs["truth"] = gen.exact_top_k(
                        corpus, np.arange(len(corpus)), inputs["queries"])
                    np.save(os.path.join(out, "truth.npy"), inputs["truth"])
            ctx = Ctx(spark, spec, args.workload, inputs, work, args.seconds, tracer)
            e2e, detail = WORKLOADS[args.workload](ctx)
            e2e["setup_s"] = (session_s + statistics.median(gens)
                              + getattr(ctx, "setup_build_s", 0.0))
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            if proc is not None:
                rss += _vm_hwm_mb(proc.pid)
            e2e["peak_rss_mb"] = rss
        except BaseException:
            _stop_spark(spark, proc)
            raise
    tracer.finish()
    ctx.layers.update({
        "session.start_s": session_s,
        "bench.generate_s": statistics.median(gens),
        "trace.query_p50_ms": e2e["query_p50_ms"],
        "trace.write_vectors_per_s": e2e["write_vectors_per_s"],
        "trace.batch_s": e2e["batch_s"],
    })
    if tracer.enabled:
        span_layers(ctx)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.dump()}, f)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    _stop_spark(spark, proc)
    steal1 = _cpu_steal()
    # CPU time the hypervisor gave to other guests during the run: a
    # host-contention reading for judging a slow run, not a metric
    detail["host_steal_pct"] = round(
        100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2)

    names = PER_LAYER if tracer.enabled else END_TO_END
    values = ctx.layers if tracer.enabled else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": unit}
               for k, unit in names.items()}
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, cpus=cpus,
                  sizes=spec["workloads"][args.workload]["sizes"])
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    return detail, result


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        import lshrs_spark
    except ImportError as e:
        print(f"perfbench: cannot import lshrs_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 3
    if os.path.dirname(os.path.dirname(os.path.abspath(lshrs_spark.__file__))) != ROOT:
        print(f"perfbench: lshrs_spark resolved outside the checkout: "
              f"{lshrs_spark.__file__}", file=sys.stderr)
        return 3
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        cpus = _host_env(work)
        detail, result = run(args, spec, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
