import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_what_the_harness_prints():
    b = spec()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == harness.END_TO_END
    assert [m["name"] for m in b["per_layer"]] == harness.per_layer_names()
    for m in b["per_layer"]:
        assert m["unit"] == harness.per_layer_unit(m["name"])
        assert m["better"] == harness.per_layer_better(m["name"])


def test_workloads_and_limits():
    b = spec()
    assert [w["name"] for w in b["workloads"]] and {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(len(w["why"]) <= 200 and set(w) == {"name", "why"} for w in b["workloads"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128
    assert 1 <= b["run_seconds"] <= 60
