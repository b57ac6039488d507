"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 6 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed at the end. Each run:

1. generates the workload's inputs and computes the expected results with
   DuckDB (not timed);
2. sets up three times — ``get_spark`` plus one checked warm-up pass on a
   small input from the same generator, stopping the session between
   cycles — and reports the median as ``setup_s``;
3. runs one checked priming pass on the measured input, which enters no
   metric;
4. with ``--trace 0``, runs whole passes of the workload until ``--seconds``
   of operation time have run (and at least two), checks every result, and
   prints the end-to-end metrics;
   with ``--trace 1``, runs one untraced and one traced pass plus the
   per-layer sweep (``perfbench/trace.py``) and prints the per-layer
   metrics.

The last stdout line is the JSON result; the line before it records the
input sizes, planted duplicates and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spans import Tracer  # noqa: E402

SETUP_CYCLES = 3
MIN_PASSES = 2  # per measured run
RUN_DIR = os.path.join(ROOT, ".perfbench")


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m for m in bench["end_to_end"]},
            {m["name"]: m for m in bench["per_layer"]})


def setup(wl, app: str, tracer: Tracer | None = None):
    """SETUP_CYCLES x (get_spark + one checked warm-up pass on the small
    warm-up input), then one checked priming pass on the measured input.
    The first cycle launches the JVM; the later ones restart the session
    inside it. The priming pass enters no metric: after the small passes
    alone, the first pass on the measured input ran 7% (``analyst_mix``) to
    30% (``etl_dag``) slower than the next, while the JIT and heap grew to
    the larger input.

    Returns the live session, the per-cycle (get_spark_s, total_s) times,
    the priming pass's seconds, and the (attempted, failed) operation
    counts of all these passes."""
    from wikipediaetl_spark.session import get_spark

    tracer = tracer or Tracer()
    cycles, attempted, failed = [], 0, 0
    spark = None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        with tracer.span("setup.cycle"):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(app)
            t1 = time.perf_counter()
            warm = measure(wl, spark, 0, wl.warm_dir)
            cycles.append((t1 - t0, time.perf_counter() - t0))
        attempted += warm["attempted"]
        failed += warm["failed"]
    with tracer.span("setup.prime"):
        prime = measure(wl, spark, 0, wl.data_dir)
    return (spark, cycles, prime["busy"],
            (attempted + prime["attempted"], failed + prime["failed"]))


def measure(wl, spark, seconds: float, data_dir: str) -> dict:
    """Whole passes of operations over ``data_dir`` until ``seconds`` of
    operation time have run, and at least MIN_PASSES; ``seconds`` 0 runs
    exactly one pass. Passes are never cut short, and a slow host does not
    drop a run to one pass, so every run's samples hold the same mix of
    operations.
    Only ``op.run`` is timed; each result is checked after its timer stops,
    and an exception or a wrong result counts as a failed operation.
    ``pass_rates`` is each pass's items per second of operation time."""
    latencies, labels, pass_rates, failed, attempted, busy = [], [], [], 0, 0, 0.0
    while True:
        pass_items, pass_s = 0.0, 0.0
        for op in wl.ops(spark, data_dir):
            attempted += 1
            t0 = time.perf_counter()
            try:
                res = op.run()
            except Exception as e:  # noqa: BLE001 - a failed op is a measurement
                print(f"op {op.label} raised {type(e).__name__}: {e}", file=sys.stderr)
                res, ok = None, False
            else:
                ok = True
            dt_ = time.perf_counter() - t0
            pass_s += dt_
            if ok:
                try:
                    ok = op.check(res)
                except Exception as e:  # noqa: BLE001
                    print(f"check {op.label} raised {type(e).__name__}: {e}", file=sys.stderr)
                    ok = False
            if ok:
                pass_items += op.items
                latencies.append(dt_)
                labels.append(op.label)
            else:
                print(f"op {op.label}: wrong result", file=sys.stderr)
                failed += 1
        busy += pass_s
        pass_rates.append(pass_items / pass_s)
        if not seconds or (busy >= seconds and len(pass_rates) >= MIN_PASSES):
            break
    return {"latencies": latencies, "labels": labels, "busy": busy,
            "pass_rates": pass_rates, "attempted": attempted, "failed": failed}


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM over the JVM and its descendant processes (the Python
    workers), in MB."""
    jvm = spark.sparkContext._gateway.proc.pid
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {jvm}, [jvm]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import wikipediaetl_spark  # noqa: F401 - fail fast without the package

    from perfbench import trace as tracing
    from perfbench.workloads import WORKLOADS

    end_to_end, per_layer = declared_metrics()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    # keep Spark's scratch files and Python temp files inside the run's
    # directory, which is removed at the end
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    tempfile.tempdir = None
    spark = None
    try:
        wl = WORKLOADS[args.workload](work_dir, args.seed)
        info = {"workload": args.workload, "seed": args.seed, "inputs": wl.prepare()}
        if args.trace:
            metrics, attempted, failed, extra = tracing.traced_run(wl, args, work_dir)
            spark = extra.pop("spark")
            info |= extra
            metrics["error_rate"] = failed / attempted
            declared = per_layer
        else:
            spark, cycles, prime_s, (attempted, failed) = setup(wl, f"perfbench-{args.workload}")
            m = measure(wl, spark, args.seconds, wl.data_dir)
            attempted, failed = attempted + m["attempted"], failed + m["failed"]
            metrics = {
                "setup_s": statistics.median(c[1] for c in cycles),
                "items_per_s": statistics.median(m["pass_rates"]),
                "op_p50_ms": statistics.median(m["latencies"] or [float("nan")]) * 1000.0,
            }
            info |= {"setup_cycles_s": cycles, "prime_pass_s": prime_s,
                     "passes": len(m["pass_rates"]),
                     "ops_completed": len(m["latencies"]), "op_seconds": m["busy"],
                     "op_ms": [[lb, round(t * 1000.0, 1)]
                               for lb, t in zip(m["labels"], m["latencies"])]}
            declared = end_to_end
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    if set(metrics) != set(declared):
        raise SystemExit(f"metrics not as declared in BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(declared))}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": declared[k]["unit"]}
                    for k, v in sorted(metrics.items())},
    }
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
