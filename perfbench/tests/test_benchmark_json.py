import json
import os

import run

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")


def test_per_layer_list_matches_what_a_trace_run_prints():
    with open(BENCH) as f:
        listed = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    assert listed == run.per_layer_names()


def test_workloads_listed_exist():
    from workloads import WORKLOADS

    with open(BENCH) as f:
        assert [w["name"] for w in json.load(f)["workloads"]] == list(WORKLOADS)
