"""BENCHMARK.json must list exactly the metrics the benchmark prints."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def test_metric_names_and_units_match_the_harness():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["encode_web", "store_rw"]
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
