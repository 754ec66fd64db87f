"""The benchmark's own inputs and oracle: the seeded generator is
deterministic, and the Lambda model agrees with the pipeline's
``tri_sink_batch`` on every kind of record."""

from __future__ import annotations

import base64
import gzip
import json
import os
import random

import pyarrow.parquet as pq

from model import Expected, process, transform_log_event
from records import KINDS, make_records, replicate, write_parquet
from stream import check_sinks, expectations, make_paths


def _sample(seed: int, n: int = 300):
    return make_records(random.Random(seed), 0, n, 1_700_000_000_000)


def test_generator_is_deterministic_for_a_seed(tmp_path):
    a, b, c = _sample(7), _sample(7), _sample(8)
    assert a == b
    assert a != c
    write_parquet(str(tmp_path / "a.parquet"), a)
    write_parquet(str(tmp_path / "b.parquet"), b)
    assert pq.read_table(tmp_path / "a.parquet").equals(pq.read_table(tmp_path / "b.parquet"))
    rng1, rng2 = random.Random(3), random.Random(3)
    assert replicate(rng1, a, 1000, 50) == replicate(rng2, a, 1000, 50)


def test_sample_covers_every_kind():
    assert {r.kind for r in _sample(7, 1000)} == set(KINDS)


def _enc(payload) -> str:
    return base64.b64encode(gzip.compress(json.dumps(payload).encode())).decode()


def test_model_follows_the_reference_dispatch():
    env = {
        "messageType": "DATA_MESSAGE",
        "logEvents": [{"id": "1", "timestamp": 0, "message": "Hello a Hello"}, {"id": "2", "timestamp": 0, "message": "b"}],
    }
    assert transform_log_event("Hello") == "Hell Yeah\n"
    assert process(_enc(env)) == Expected("Ok", "Hell Yeah a Hell Yeah\nb\n")
    assert process(_enc({**env, "logEvents": []})) == Expected("Ok", "")
    assert process(_enc({**env, "messageType": "CONTROL_MESSAGE"})) == Expected("ProcessingFailed", None)
    assert process(_enc("reingested-1")) == Expected("Ok", "reingested-1")
    assert process("!!*#==") == Expected("ProcessingFailed", None)
    assert process(base64.b64encode(b"\x00not gzip").decode()) == Expected("ProcessingFailed", None)


def test_model_agrees_with_tri_sink_batch(spark, tmp_path):
    from ex_aws_firehose_spark.streaming.pipeline import RECORDS_SCHEMA, tri_sink_batch

    records = _sample(11)
    assert {r.kind for r in records} == set(KINDS)
    src = str(tmp_path / "src.parquet")
    write_parquet(src, records)
    paths = make_paths(str(tmp_path / "run"))
    tri_sink_batch(spark.read.schema(RECORDS_SCHEMA).parquet(src), 0, paths)
    failed, batch_of = check_sinks(paths, expectations(records))
    assert failed == set()
    assert set(batch_of) == {r.idx for r in records}
    assert os.path.isdir(paths.primary) and os.path.isdir(paths.errors)


def test_check_sinks_catches_a_lost_and_a_wrong_record(spark, tmp_path):
    from ex_aws_firehose_spark.streaming.pipeline import RECORDS_SCHEMA, tri_sink_batch

    records = _sample(12, 40)
    src = str(tmp_path / "src.parquet")
    write_parquet(src, records[:-1])  # the last record never reaches the pipeline
    paths = make_paths(str(tmp_path / "run"))
    tri_sink_batch(spark.read.schema(RECORDS_SCHEMA).parquet(src), 0, paths)
    expected = expectations(records)
    ok = next(i for i, (_, e) in expected.items() if e.result == "Ok" and e.payload)
    expected[ok] = (expected[ok][0], Expected("Ok", expected[ok][1].payload + "x"))
    failed, _ = check_sinks(paths, expected)
    assert failed == {records[-1].idx, ok}
