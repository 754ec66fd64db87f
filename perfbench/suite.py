"""The ``query_suite`` workload: one client in a fresh session runs a
fixed set of registry keys, in an order the seed permutes, each
materialised through the ``noop`` sink (the cold pass, whose wall time
gives the throughput). A second pass checks every key against its DuckDB
oracle. Its Spark side (``fn()`` and ``toPandas()``, warm) is the first
of LATENCY_SAMPLES latency samples of each reference-path key; more
passes over those keys take the rest. A key's latency is its fastest
sample, which a burst of load from other processes on the host leaves
alone unless it lasts through every pass, and the workload reports the
mean over the keys: their warm times sit in clusters between 0.1 and
1.2 s, so the median key changes from run to run. Every pass covers a
fixed key set, so ``--seconds`` does not change the run.

The key set is the reference-path (``firehose`` + ``ref``) chain, which
builds and reads the session fixtures (``synthesize_records``,
``decoded_records``, ``split_records``) and runs ``overflow_split`` and
``reingest``, plus TPC-H shapes for planning and codegen. It is a subset
of the 58 keys tagged ``firehose``, ``ref`` or ``tpch`` (SUITE_TAGS):
the whole set takes about 100 s cold on 4 cores, and its oracle pass
about 50 s more.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import traceback

from pyspark.sql.streaming import StreamingQueryListener

from harness import JobCounter, Outcome, Trace, log, quantile
from stream import data_batches, progress_layers, sink_size
import tables

SF = 0.1
LATENCY_SAMPLES = 3
SUITE_TAGS = ("firehose", "ref", "tpch")
SUITE_KEYS = (
    "q_decode_chain",
    "q_explode_events",
    "q_reassemble_concat",
    "q_project_envelope",
    "q_route_message_type",
    "q_size_overflow_split",
    "q_reingest_retry",
    "q_tpch_q1",
    "q_tpch_q18",
)


class ProgressLog(StreamingQueryListener):
    """Spark's own per-trigger progress, as the listener bus delivers it."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        self.terminated.clear()

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


def _fixture_layers(spark, data: str) -> dict[str, float]:
    """Time each session fixture's first call, before any key runs."""
    from ex_aws_firehose_spark.operators.firehose import (
        decoded_records,
        split_records,
        synthesize_records,
    )
    from ex_aws_firehose_spark.streaming.pipeline import tri_sink_output

    out = {}
    for name, build in (
        ("synthesize_records", lambda: synthesize_records(spark, data).count()),
        ("decoded_records", lambda: decoded_records(spark, data).count()),
        ("split_records", lambda: split_records(spark, data).count()),
    ):
        t0 = time.perf_counter()
        build()
        out[f"caching.{name}_s"] = time.perf_counter() - t0

    # tri_sink_output runs the delivery stream over the fixture records:
    # its micro-batches are this workload's pipeline layer.
    listener = ProgressLog()
    spark.streams.addListener(listener)
    try:
        t0 = time.perf_counter()
        paths = tri_sink_output(spark, data)
        out["caching.tri_sink_output_s"] = time.perf_counter() - t0
        listener.terminated.wait(30)
    finally:
        spark.streams.removeListener(listener)
    batches = data_batches(listener.events)
    # A stream runs its batches' jobs in a job group named by its runId.
    jobs, stages, tasks = JobCounter(spark.sparkContext).count(batches[0]["runId"])
    n = max(1, len(batches))
    add_batch = [p["durationMs"]["addBatch"] / 1000 for p in batches]
    n_files, mb = sink_size(paths)
    out.update(progress_layers(listener.events))
    out.update({
        "pipeline.batch_s_p50": quantile(add_batch, 0.5),
        "pipeline.batch_s_p95": quantile(add_batch, 0.95),
        "pipeline.jobs_per_batch": jobs / n,
        "pipeline.stages_per_batch": stages / n,
        "pipeline.tasks_per_batch": tasks / n,
        "pipeline.sink_files": n_files,
        "pipeline.sink_mb": mb,
    })
    return out


def _reference(key: str) -> bool:
    from ex_aws_firehose_spark.registry import REGISTRY

    return bool({"firehose", "ref"} & set(REGISTRY[key].tags))


def query_suite(spark, seed: int, seconds: int, tracer: Trace, ws: str) -> Outcome:
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators
    from ex_aws_firehose_spark.testing import SPARK_TIMINGS, run_differential

    data = os.path.join(ws, "data")
    tables.build(data, seed, SF)
    load_all_operators()
    keys = list(SUITE_KEYS)
    random.Random(seed).shuffle(keys)
    layers: dict[str, float] = {}
    if tracer.enabled:
        layers.update(_fixture_layers(spark, data))

    per_key: dict[str, float] = {}
    build_s = execute_s = 0.0
    failed: set[str] = set()
    t_pass = time.perf_counter()
    for key in keys:
        tracer.job_group(spark.sparkContext, key)
        try:
            t0 = time.perf_counter()
            df = REGISTRY[key].fn(spark, data)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            log(f"{key} failed:\n{traceback.format_exc()}")
            failed.add(key)
            continue
        per_key[key] = t2 - t0
        build_s += t1 - t0
        execute_s += t2 - t1
    suite_s = time.perf_counter() - t_pass

    # Correctness pass (the oracle comparison of ex_aws_firehose_spark.testing);
    # its Spark side (fn() and toPandas, warm) is each key's first latency sample.
    tracer.job_group(spark.sparkContext, "oracle-check")
    samples: dict[str, list[float]] = {}
    for key in keys:
        rq = REGISTRY[key]
        try:
            if rq.oracle:
                ok = bool(run_differential(spark, data, key, rq.fn, rq.oracle))
                samples[key] = [SPARK_TIMINGS[key]]
            else:
                ok = rq.fn(spark, data).limit(1).count() == 1
        except Exception:
            log(f"{key} check failed:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            log(f"{key}: result differs from its oracle")
            failed.add(key)

    # The other latency samples, a pass at a time, so that the samples of
    # one key lie seconds apart.
    timed = [k for k in keys if k in samples and k not in failed and _reference(k)]
    for _ in range(LATENCY_SAMPLES - 1):
        for key in timed:
            t0 = time.perf_counter()
            REGISTRY[key].fn(spark, data).toPandas()
            samples[key].append(time.perf_counter() - t0)
    for key in keys:
        warm_s = " ".join(f"{t:.3f}" for t in samples.get(key, []))
        log(f"{key}: cold {per_key.get(key, float('nan')):.3f} s, warm {warm_s} s")

    cold = list(per_key.values()) or [float("inf")]
    warm = [min(samples[k]) for k in timed] or [float("inf")]
    p50, p95, mean = quantile(warm, 0.5), quantile(warm, 0.95), sum(warm) / len(warm)
    if tracer.enabled:
        counter = JobCounter(spark.sparkContext)
        counts = [counter.count(k) for k in keys]
        layers.update({
            "registry.build_s": build_s,
            "registry.execute_s": execute_s,
            "registry.tpch_s": sum(t for k, t in per_key.items() if "tpch" in REGISTRY[k].tags),
            "registry.jobs": quantile([c[0] for c in counts], 0.5),
            "registry.tasks": quantile([c[2] for c in counts], 0.5),
        })
        layers.update({f"query.{k}_s": t for k, t in per_key.items() if _reference(k)})
    return Outcome(
        attempted=len(keys),
        failed=len(failed),
        e2e={
            "latency_s": (mean, len(warm)),
            "throughput_per_s": (len(per_key) / suite_s, 1),
        },
        layers=layers,
        report=[
            ("suite_s", suite_s, "s", 1),
            ("query_p50_s", quantile(cold, 0.5), "s", len(cold)),
            ("query_p95_s", quantile(cold, 0.95), "s", len(cold)),
            ("warm_query_mean_s", mean, "s", len(warm)),
            ("warm_query_p50_s", p50, "s", len(warm)),
            ("warm_query_p95_s", p95, "s", len(warm)),
        ],
    )
