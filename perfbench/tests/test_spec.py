"""BENCHMARK.json and the suite agree."""

from __future__ import annotations

import json
import os

from suite import SUITE_KEYS, SUITE_TAGS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_suite_keys_are_registered_reference_and_tpch_keys():
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    tagged = {k for k, rq in REGISTRY.items() if set(rq.tags) & set(SUITE_TAGS)}
    assert len(tagged) == 58
    assert set(SUITE_KEYS) <= tagged
    assert all(REGISTRY[k].oracle for k in SUITE_KEYS)


def test_every_non_tpch_suite_key_has_a_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"] for m in spec["per_layer"]}
    want = {f"query.{k}_s" for k in SUITE_KEYS if not k.startswith("q_tpch")}
    assert {n for n in names if n.startswith("query.")} == want


def test_benchmark_json_shape():
    import re

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        raw = f.read()
    spec = json.loads(raw)
    assert len(raw) <= 64 * 1024
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and spec["command"][1].startswith("perfbench/")
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
