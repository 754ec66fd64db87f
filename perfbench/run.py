"""Delivery-path benchmark for ex_aws_firehose_spark.

    python3 perfbench/run.py --workload delivery --seed 1 --seconds 16 --trace 0

Runs one workload (delivery or query_suite) in a
fresh process and session, checks its outputs, and prints a report:
the workload's named metrics with unit and sample count, the host
fingerprint, and as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics, from timers around the package's public calls
and from Spark's own counters. A layer a workload does not exercise
reports zero work.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the workspace (sources, sinks, checkpoints, Spark scratch) is removed at
exit; the full result with its fingerprint is kept in
``.perfbench/results/``.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("delivery", "query_suite")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    import ex_aws_firehose_spark  # noqa: F401  (fails where the package is absent)

    import harness
    from harness import Session, Trace, cpu_ticks, fingerprint, loadavg, log, shutdown_jvm

    harness.LOG_START = PROCESS_START

    if args.workload == "query_suite":
        from suite import query_suite as workload
    else:
        from stream import delivery as workload

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ws = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(ws, d))
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the run writes inside the checkout, and size the
    # session to this host: the package's own default is local[32].
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"

    host = fingerprint(ROOT)
    tracer = Trace(enabled=args.trace == 1)
    try:
        session = Session(PROCESS_START)
        log("session up")
        t0 = time.perf_counter()
        outcome = workload(session.spark, args.seed, args.seconds, tracer, ws)
        wall = time.perf_counter() - t0
        log("workload done")
        py_mb, jvm_mb = session.hwm_mb()
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        shutdown_jvm()
        shutil.rmtree(ws, ignore_errors=True)
    host["loadavg_end"] = loadavg()
    steal, total = (end - start for end, start in zip(cpu_ticks(), host.pop("cpu_ticks_start")))
    host["cpu_steal_frac"] = steal / total if total else 0.0
    log("JVM stopped")

    e2e = dict(outcome.e2e)
    e2e["setup_s"] = (session.setup_s, 1)
    layers = dict(outcome.layers)
    layers.update({
        "session.get_spark_s": session.get_spark_s,
        "session.first_job_s": session.first_job_s,
        "mem.python_hwm_mb": py_mb,
        "mem.jvm_hwm_mb": jvm_mb,
        "trace.overhead_frac": tracer.self_s / wall,
    })

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        idle = [n for n in names if n not in layers]
        if idle:
            log(f"layers {args.workload} does not exercise (reported as 0): {', '.join(idle)}")
        metrics = {n: {"value": layers.get(n, 0), "unit": units[n]} for n in names}
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]
        }

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, value, unit, n in (
        [(m, e2e[m][0], units[m], e2e[m][1]) for m in units]
        + outcome.report
        + [
            ("peak_rss_mb", py_mb + jvm_mb, "MB", 1),
            ("failed_frac", outcome.failed / outcome.attempted, "ratio", outcome.attempted),
        ]
    ):
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    print(f"host {json.dumps(host)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "host": host, "report": outcome.report, "e2e": e2e, "layers": layers,
        }, f)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
