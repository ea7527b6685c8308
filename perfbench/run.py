"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_jobs --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. With ``--trace 0`` the run measures the
end-to-end metrics; with ``--trace 1`` it measures the same operations
traced, then runs the layer probes, and reports per-layer metrics, the
Spark job, stage and task counts per operation and the tracing
overhead. Human-readable lines go
first; the last line of standard output is one JSON object. The exit
code is nonzero when an output check fails.
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
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import SparkCounter, Tracer, median, tail  # noqa: E402
from workloads import BatchJobs, CheckFailed, IndexServe  # noqa: E402

WORKLOADS = {w.name: w for w in (BatchJobs, IndexServe)}


def box_env(work: str) -> None:
    """Size the Spark session for this machine and keep every file the
    run writes inside ``work``. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    # a quarter of physical memory, at most 4 GiB: the inputs are small
    # and the machine may be shared
    heap_mb = max(1024, min(4096, mem_kb // 4 // 1024))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM the launch starts keeps its temporary files (and no
        # performance-counter file in the system temporary directory)
        # inside the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package (the Arrow kernels of the
        # index stores run there), so it must be on their path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total += int(next(x for x in f if x.startswith("VmHWM")).split()[1])
    return total / 1024


def closed_loop(wl, seconds: float, tracer=None, counter=None):
    """Operations back to back until ``seconds`` have passed, finishing
    the workload's current round so every run covers whole rounds. With
    a tracer, each operation is a root span and a Spark job group."""
    lat, kinds, work, items, failed = [], [], [], 0, 0
    start = time.perf_counter()
    n = 0
    while True:
        now = time.perf_counter()
        if now - start >= seconds and wl.round_done():
            break
        t0 = time.perf_counter()
        try:
            if tracer is None:
                r = wl.op()
            else:
                tracer.begin_op(n)
                with tracer.span("op"):
                    with tracer.span("trace.group"):
                        counter.group(f"op{n}")
                    r = wl.op(tracer)
        except CheckFailed:
            raise
        except Exception:  # an operation failed: count it and go on
            traceback.print_exc()
            failed += 1
            kinds.append("failed")
            work.append(0)
            lat.append(time.perf_counter() - t0)
            n += 1
            continue
        lat.append(time.perf_counter() - t0)
        kinds.append(r["kind"])
        work.append(r.get("work", 0))
        items += r["items"]
        n += 1
    print("ops " + " ".join(f"{k}:{x:.2f}" for k, x in zip(kinds, lat)),
          file=sys.stderr)
    return {"lat": lat, "kinds": kinds, "work": work, "items": items,
            "failed": failed, "elapsed": time.perf_counter() - start}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from pyspark import SparkContext

    from knn_using_hadoop_spark.session import get_spark

    t0 = time.perf_counter()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    box_env(work)

    spark = get_spark(f"perfbench-{args.workload}", extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    })
    gateway = SparkContext._gateway
    print(f"phase session {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    try:
        return measure(spark, gateway.proc.pid, work, args)
    finally:
        spark.stop()
        gateway.shutdown()
        # the JVM exits when its standard input closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def measure(spark, jvm_pid, work, args) -> int:
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    setup_s = []
    for _ in range(wl.SETUPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_s.append(time.perf_counter() - t0)
    print("phase setups " + " ".join(f"{x:.1f}s" for x in setup_s),
          file=sys.stderr)
    correct = True
    try:
        t0 = time.perf_counter()
        wl.warmup()
        print(f"phase warmup {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        if args.trace:
            metrics, res = traced(spark, wl, args)
        else:
            res = closed_loop(wl, args.seconds)
            metrics = end_to_end(wl, res, setup_s, jvm_pid)
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        correct = False
        metrics, res = {}, {"lat": [], "failed": 0}
    for k, v in wl.checks.items():
        print(f"check {args.workload} {k} = {v}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    attempted = max(len(res["lat"]), 1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": res["failed"] if correct else attempted,
                      "metrics": metrics}))
    return 0 if correct else 1


def end_to_end(wl, res, setup_s, jvm_pid) -> dict:
    lat = res["lat"]
    tail_v, tail_p, n = tail(lat)
    m = {
        "setup_s": (median(setup_s), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "items_per_s": (res["items"] / res["elapsed"], "items/s"),
    }
    print(f"{wl.name} op_tail_s is p{tail_p:.1f} of {n} operations; "
          f"items are {wl.item} at {wl.size()}")
    # reported, not gated: see perfbench/README.md
    report = {"failed_frac": (res["failed"] / max(len(lat), 1), "ratio"),
              "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
              **wl.extra_metrics(res)}
    for name, (v, unit) in report.items():
        print(f"{wl.name} {name} = {v:.6g} {unit}")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def traced(spark, wl, args):
    """The operations traced, then the probes."""
    tracer, counter = Tracer(), SparkCounter(spark.sparkContext)
    res = closed_loop(wl, args.seconds, tracer, counter)
    counts = counter.counts()
    spark.sparkContext.setJobGroup("probe", "probe")
    with tracer.span("probe"):
        wl.probe(tracer)
    n_ops = len(res["lat"])
    m = {f"spark.{k}_per_op": (counts[k] / n_ops, "count")
         for k in ("jobs", "stages", "tasks")}
    m["spark.failed_tasks"] = (counts["failed_tasks"], "count")
    # the time tracing added to the operations, over their untraced time
    added = tracer.overhead_s()
    m["trace.overhead_ratio"] = (added / (sum(res["lat"]) - added), "ratio")
    lt = tracer.layer_totals()
    for name, v in sorted(wl.layer_metrics(lt).items()):
        print(f"{wl.name} layer {name} = {v:.6g}")
    for name, d in sorted(lt.items()):
        print(f"{wl.name} span {name}: n={d['n']} total={d['total_s']:.4f}s "
              f"self={d['self_s']:.4f}s")
    out = os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json")
    tracer.write(out)
    print(f"{wl.name} spans written to {os.path.relpath(out, ROOT)}")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, res


if __name__ == "__main__":
    sys.exit(main())
