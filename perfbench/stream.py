"""The ``delivery`` workload: the reference path under two loads, in
one session.

``steady_stream`` is an open loop: a schedule publishes one file of
seeded records every PERIOD_S seconds, whatever the pipeline is doing,
into a directory that a foreachBatch stream drains with the default
as-soon-as-possible trigger through ``tri_sink_batch``. Each measured
file is timed from its due time to the end of the batch that made it
durable. Fixed per-micro-batch cost sets this latency. Its untimed
warm-up batches are the session's first, so they also warm the code the
drain runs.

``backfill_drain`` is a closed loop: ``run_stream`` (the same
``tri_sink_batch`` in a foreachBatch stream) drains a backlog of a few
large files to completion. Per-record work sets this rate.

Every record of every sink is checked against the Lambda model.
"""

from __future__ import annotations

import dataclasses
import os
import random
import time
from datetime import datetime

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import MB, JobCounter, Outcome, Trace, log, quantile
from model import Expected, process
from records import Record, make_records, replicate, write_parquet

PERIOD_S = 0.25
RECORDS_PER_FILE = 50  # 200 records/s
WARMUP_BATCHES = 6  # closed-loop, before the schedule; the first is the session's cold batch
WARMUP_RECORDS = 250  # per warm-up batch
WARMUP_S = 3.0  # scheduled but unmeasured: the stream is still settling
LATENCY_LIMIT_S = 60.0  # the reference's 60 s buffer interval (main.tf:15-19)

BACKLOG_FILES = 2
BACKLOG_RECORDS_PER_FILE = 10_000  # run_stream takes one file per micro-batch
BACKLOG_DISTINCT = 4000
BACKLOG_IDX0 = 10_000_000  # past every open-loop record

PHASES = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
}


def progress_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def progress_layers(progress: list[dict]) -> dict[str, float]:
    batches = data_batches(progress)
    out = {
        name: quantile([p["durationMs"].get(key, 0) for p in batches], 0.5)
        for name, key in PHASES.items()
    }
    out["batch_records_p50"] = quantile([p["numInputRows"] for p in batches], 0.5)
    return {f"pipeline.{k}": v for k, v in out.items()}


def busy_frac(progress: list[dict], lo: float, hi: float) -> float:
    """Share of [lo, hi] during which a data batch was executing."""
    busy = 0.0
    for p in data_batches(progress):
        s = progress_start(p)
        e = s + p["durationMs"]["triggerExecution"] / 1000
        busy += max(0.0, min(e, hi) - max(s, lo))
    return busy / (hi - lo)


def make_paths(root: str):
    from ex_aws_firehose_spark.streaming.pipeline import SinkPaths

    routed = os.path.join(root, "routed")
    return SinkPaths(
        source=os.path.join(root, "source"),
        routed=routed,
        primary=os.path.join(routed, "result=Ok"),
        backup=os.path.join(root, "backup"),
        errors=os.path.join(routed, "result=ProcessingFailed"),
        checkpoint=os.path.join(root, "checkpoint"),
    )


def check_sinks(paths, expected: dict[int, tuple[str, Expected]]) -> tuple[set[int], dict[int, int]]:
    """Every record must be in the backup sink exactly once, verbatim, and
    in the routed sink exactly once with the model's result and payload.
    Returns the idx of failed records and the batch that routed each."""
    failed: set[int] = set()
    seen_backup: dict[int, int] = {}
    if os.path.isdir(paths.backup):
        for row in ds.dataset(paths.backup, format="parquet").to_table(columns=["idx", "data"]).to_pylist():
            i = row["idx"]
            seen_backup[i] = seen_backup.get(i, 0) + 1
            if i not in expected or expected[i][0] != row["data"]:
                failed.add(i)
    seen_routed: dict[int, int] = {}
    batch_of: dict[int, int] = {}
    if os.path.isdir(paths.routed):
        table = ds.dataset(paths.routed, format="parquet", partitioning="hive").to_table(
            columns=["idx", "payload", "batch_id", "result"]
        )
        for row in table.to_pylist():
            i = row["idx"]
            seen_routed[i] = seen_routed.get(i, 0) + 1
            batch_of[i] = row["batch_id"]
            want = expected.get(i)
            if want is None or (str(row["result"]), row["payload"]) != (want[1].result, want[1].payload):
                failed.add(i)
    for i in expected:
        if seen_backup.get(i) != 1 or seen_routed.get(i) != 1:
            failed.add(i)
    failed |= (set(seen_backup) | set(seen_routed)) - set(expected)
    return failed, batch_of


def expectations(records: list[Record]) -> dict[int, tuple[str, Expected]]:
    """idx -> (data, the model's result); the model runs once per
    distinct payload."""
    memo: dict[str, Expected] = {}
    out = {}
    for r in records:
        if r.data not in memo:
            memo[r.data] = process(r.data)
        out[r.idx] = (r.data, memo[r.data])
    return out


def sink_size(paths) -> tuple[int, float]:
    files, size = 0, 0
    for root in (paths.routed, paths.backup):
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
    return files, size / MB


def _steady(spark, rng: random.Random, seconds: int, tracer: Trace, root: str) -> Outcome:
    """The open loop: WARMUP_BATCHES untimed batches, then one file every
    PERIOD_S for WARMUP_S + ``seconds``; the last ``seconds`` are
    measured."""
    from ex_aws_firehose_spark.streaming.pipeline import RECORDS_SCHEMA, tri_sink_batch

    paths = make_paths(root)
    os.makedirs(paths.source)
    n_warm = int(WARMUP_S / PERIOD_S)
    n_meas = int(seconds / PERIOD_S)
    n_files = n_warm + n_meas
    batch_span: dict[int, tuple[float, float]] = {}
    sc = spark.sparkContext

    def on_batch(df, bid: int) -> None:
        tracer.job_group(sc, f"batch-{bid}")
        start = time.time()
        tri_sink_batch(df, bid, paths)
        batch_span[bid] = (start, time.time())

    q = (
        spark.readStream.schema(RECORDS_SCHEMA)
        .parquet(paths.source)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", paths.checkpoint)
        .start()
    )
    # Untimed warm-up, one batch at a time: the session's first batch is
    # cold, and the next ones keep getting faster while the JIT settles.
    warm = make_records(rng, n_files * RECORDS_PER_FILE, WARMUP_BATCHES * WARMUP_RECORDS, int(time.time() * 1000))
    for k in range(WARMUP_BATCHES):
        hidden = os.path.join(paths.source, f".warmup-{k}.parquet")
        write_parquet(hidden, warm[k * WARMUP_RECORDS:(k + 1) * WARMUP_RECORDS])
        os.rename(hidden, os.path.join(paths.source, f"warmup-{k}.parquet"))
        q.processAllAvailable()
    log("steady_stream: warm-up batches done")

    # Generate every file before the schedule starts, stamped with its due
    # time; the start is planned past the estimated generation time.
    t_est = time.perf_counter()
    make_records(random.Random(0), 0, RECORDS_PER_FILE, 0)
    t0 = time.time() + (time.perf_counter() - t_est) * n_files * 1.5 + 0.5
    files = []  # (hidden path, final name, records)
    for i in range(n_files):
        due_ms = int((t0 + i * PERIOD_S) * 1000)
        recs = make_records(rng, i * RECORDS_PER_FILE, RECORDS_PER_FILE, due_ms)
        name = f"file-{i:05d}.parquet"
        hidden = os.path.join(paths.source, "." + name)
        write_parquet(hidden, recs)
        files.append((hidden, name, recs))

    if time.time() > t0:
        log(f"steady_stream: generation overran its plan by {time.time() - t0:.2f} s")
    published: list[float] = []
    try:
        for i, (hidden, name, _) in enumerate(files):
            delay = t0 + i * PERIOD_S - time.time()
            if delay > 0:
                time.sleep(delay)
            # Atomic publication: the file source never lists names that
            # start with '.', so it sees no file or the whole file.
            os.rename(hidden, os.path.join(paths.source, name))
            published.append(time.time())
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        # Publishing stops with the window: a batch only takes the files
        # listed when it starts, so later files would not change the
        # latency of any measured one.
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
        for hidden, _, _ in files:
            if os.path.exists(hidden):
                os.remove(hidden)

    sent = warm + [r for _, _, recs in files for r in recs]
    failed, batch_of = check_sinks(paths, expectations(sent))
    # A file's batch is the last batch that routed any of its records
    # (the warm-up files sort past every scheduled file).
    file_end: dict[int, float] = {}
    for idx, bid in batch_of.items():
        j = idx // RECORDS_PER_FILE
        file_end[j] = max(file_end.get(j, 0.0), batch_span[bid][1] if bid in batch_span else float("inf"))
    measured = range(n_warm, n_files)
    due = [t0 + j * PERIOD_S for j in measured]
    lat = [file_end.get(j, float("inf")) - d for j, d in zip(measured, due)]
    for j, latency in zip(measured, lat):
        if latency > LATENCY_LIMIT_S:
            failed.update(r.idx for r in files[j][2])
    n_records = n_meas * RECORDS_PER_FILE
    n_bytes = sum(len(r.data) for j in measured for r in files[j][2])
    window = (due[0], due[-1] + PERIOD_S)
    # Delivered rate: the measured records over the time from the first
    # measured file's due time to the last measured file's delivery.
    done_s = max(d + x for d, x in zip(due, lat)) - window[0]
    p50, p95 = quantile(lat, 0.5), quantile(lat, 0.95)
    lag = [published[j] - d for j, d in zip(measured, due)]
    # The batches that delivered measured files. Files of one batch share
    # its end time, so these, not the files, are the independent samples.
    bids = sorted({batch_of[r.idx] for j in measured for r in files[j][2] if r.idx in batch_of})
    log("steady_stream: batches (start s, duration s): " + ", ".join(
        f"{batch_span[b][0] - window[0]:.2f} {batch_span[b][1] - batch_span[b][0]:.2f}" for b in bids if b in batch_span
    ))
    out = Outcome(
        attempted=len(sent),
        failed=len(failed),
        e2e={"latency_s": (p50, len(bids))},
        report=[
            ("delivery_latency_p50_s", p50, "s", len(bids)),
            ("delivery_latency_p95_s", p95, "s", len(bids)),
            ("delivered_records_per_s", n_records / done_s, "records/s", len(bids)),
            ("offered_mb_per_s", n_bytes / MB / (window[1] - window[0]), "MB/s", n_meas),
        ],
    )
    if tracer.enabled:
        # Per-batch figures over the batches that delivered measured files.
        in_window = [p for p in progress if p["batchId"] in bids]
        counter = JobCounter(sc)
        per_batch = [counter.count(f"batch-{b}") for b in bids]
        batch_s = [batch_span[b][1] - batch_span[b][0] for b in bids]
        # Files published but not yet durable, at each publish in the window.
        backlog = [
            sum(1 for k in range(j + 1) if file_end.get(k, float("inf")) > published[j])
            for j in measured
        ]
        n_sink_files, sink_mb = sink_size(paths)
        out.layers.update(progress_layers(in_window))
        out.layers.update({
            "pipeline.batch_s_p50": quantile(batch_s, 0.5),
            "pipeline.batch_s_p95": quantile(batch_s, 0.95),
            "pipeline.jobs_per_batch": quantile([c[0] for c in per_batch], 0.5),
            "pipeline.stages_per_batch": quantile([c[1] for c in per_batch], 0.5),
            "pipeline.tasks_per_batch": quantile([c[2] for c in per_batch], 0.5),
            "pipeline.idle_frac": 1 - busy_frac(progress, *window),
            "pipeline.backlog_files_max": max(backlog),
            "pipeline.backlog_files_end": backlog[-1],
            "pipeline.sink_files": n_sink_files,
            "pipeline.sink_mb": sink_mb,
            "gen.records": len(sent),
            "gen.mb": sum(len(r.data) for r in sent) / MB,
            "gen.files": len(files),
            "gen.lag_p95_s": quantile(lag, 0.95),
        })
    return out


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _prefix_layers(spark, source: str, root: str) -> dict[str, float]:
    """Cumulative-prefix timings of the per-record work over the staged
    backlog read as one batch: gunzip, + decode_chain, + route, + the
    tri-sink writes, in a warm session. Each prefix is the best of two
    runs; a layer's time is its prefix minus the one before."""
    from pyspark.sql import functions as F

    from ex_aws_firehose_spark.functions.codec import gzip_decompress
    from ex_aws_firehose_spark.operators.firehose import decode_chain, route
    from ex_aws_firehose_spark.streaming.pipeline import RECORDS_SCHEMA, tri_sink_batch

    records = spark.read.schema(RECORDS_SCHEMA).parquet(source)
    gunzip = records.select(gzip_decompress(F.expr("try_to_binary(data, 'base64')")).alias("raw"))
    decoded = decode_chain(records)
    routed = route(decoded)

    def sink_write() -> float:
        t0 = time.perf_counter()
        tri_sink_batch(records, 0, make_paths(os.path.join(root, f"prefix-{time.time_ns()}")))
        return time.perf_counter() - t0

    t: dict[str, float] = {}
    for _ in range(2):
        for name, fn in (
            ("codec.gunzip", lambda: _noop(gunzip)),
            ("firehose.decode_prefix", lambda: _noop(decoded)),
            ("firehose.route_prefix", lambda: _noop(routed)),
            ("pipeline.sink_prefix", sink_write),
        ):
            t[name] = min(t.get(name, float("inf")), fn())
    plan = routed._jdf.queryExecution().executedPlan().toString()
    return {
        "codec.gunzip_s": t["codec.gunzip"],
        "firehose.decode_chain_s": t["firehose.decode_prefix"] - t["codec.gunzip"],
        "firehose.route_s": t["firehose.route_prefix"] - t["firehose.decode_prefix"],
        "pipeline.sink_write_s": t["pipeline.sink_prefix"] - t["firehose.route_prefix"],
        "firehose.route_exchanges": sum("Exchange" in line for line in plan.splitlines()),
        "_prefix_total_s": t["pipeline.sink_prefix"],
    }


def _drain_s(spark, source: str, root: str) -> float:
    """Wall time of ``run_stream`` draining ``source`` into fresh sinks
    under ``root``."""
    from ex_aws_firehose_spark.streaming.pipeline import run_stream

    paths = dataclasses.replace(make_paths(root), source=source)
    t0 = time.perf_counter()
    run_stream(spark, paths)
    return time.perf_counter() - t0


def _parallel_speedup(spark, backlog: str, expected, wide_s: float, ws: str) -> float:
    """Drain time of the backlog at local[1] over ``wide_s``, its drain
    time at local[nproc]; the serial session first drains the backlog's
    first WARMUP_RECORDS. Leaves the local[1] session active. (Spark logs
    accumulator-update errors from the stopped context here; the drain's
    output is checked all the same.)"""
    from ex_aws_firehose_spark.session import get_spark

    spark.stop()
    serial = get_spark(master="local[1]")
    warm = os.path.join(ws, "speedup-1-source")
    os.makedirs(warm)
    first = pq.read_table(os.path.join(backlog, sorted(os.listdir(backlog))[0]))
    pq.write_table(first.slice(0, WARMUP_RECORDS), os.path.join(warm, "file-00000.parquet"))
    _drain_s(serial, warm, os.path.join(ws, "speedup-1-warmup"))
    root = os.path.join(ws, "speedup-1")
    serial_s = _drain_s(serial, backlog, root)
    failed, _ = check_sinks(make_paths(root), expected)
    if failed:
        raise RuntimeError(f"local[1] drain lost or corrupted {len(failed)} records")
    return serial_s / wide_s


def _backfill(spark, rng: random.Random, ws: str):
    """The closed loop: ``run_stream`` drains a backlog of BACKLOG_FILES
    large files to completion. Returns the outcome, the backlog
    directory, its expected results and the drain's wall time."""
    backlog = os.path.join(ws, "backlog")
    os.makedirs(backlog)
    ts_ms = int(time.time() * 1000)
    sent: list[Record] = []
    n_bytes = 0
    distinct = make_records(rng, BACKLOG_IDX0, BACKLOG_DISTINCT, ts_ms)
    for f in range(BACKLOG_FILES):
        first = BACKLOG_IDX0 + f * BACKLOG_RECORDS_PER_FILE
        recs = replicate(rng, distinct, first, BACKLOG_RECORDS_PER_FILE)
        n_bytes += write_parquet(os.path.join(backlog, f"file-{f:05d}.parquet"), recs)
        sent.extend(recs)
    root = os.path.join(ws, "drain")
    wall = _drain_s(spark, backlog, root)
    log(f"backfill_drain: {len(sent)} records in {wall:.2f} s")
    expected = expectations(sent)
    failed, _ = check_sinks(make_paths(root), expected)
    out = Outcome(
        attempted=len(sent),
        failed=len(failed),
        e2e={"throughput_per_s": (len(sent) / wall, 1)},
        report=[
            ("drain_records_per_s", len(sent) / wall, "records/s", 1),
            ("drain_mb_per_s", n_bytes / MB / wall, "MB/s", 1),
            ("backlog_events_per_record", sum(r.events for r in sent) / len(sent), "count", len(sent)),
            ("backlog_bytes_per_record", n_bytes / len(sent), "B", len(sent)),
        ],
    )
    return out, backlog, expected, wall


def delivery(spark, seed: int, seconds: int, tracer: Trace, ws: str) -> Outcome:
    """steady_stream, then backfill_drain, in one session: the open
    loop's warm-up batches warm the code the drain runs. The traced run
    then splits the drain's work by layer."""
    rng = random.Random(seed)
    steady = _steady(spark, rng, seconds, tracer, os.path.join(ws, "steady"))
    drain, backlog, expected, wall = _backfill(spark, rng, ws)
    layers = {**steady.layers}
    if tracer.enabled:
        prefix = _prefix_layers(spark, backlog, ws)
        layers["pipeline.layer_coverage_frac"] = prefix.pop("_prefix_total_s") / wall
        layers.update(prefix)
        layers["pipeline.parallel_speedup"] = _parallel_speedup(spark, backlog, expected, wall, ws)
    return Outcome(
        attempted=steady.attempted + drain.attempted,
        failed=steady.failed + drain.failed,
        e2e={**steady.e2e, **drain.e2e},
        layers=layers,
        report=steady.report + drain.report,
    )
