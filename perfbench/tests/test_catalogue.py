"""BENCHMARK.json and the benchmark's code name the same workloads and
metrics."""

import json
import os

import run as cli
from pdcmbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in spec()["workloads"]] == list(cli.WORKLOADS)


def test_metric_names_and_units_match():
    s = spec()
    assert [(m["name"], m["unit"]) for m in s["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in s["per_layer"]] == metrics.PER_LAYER


def test_every_suite_query_is_in_one_group():
    grouped = [q for qs in metrics.OPERATOR_GROUPS.values() for q in qs]
    assert sorted(grouped) == sorted(set(grouped)) == sorted(metrics.SUITE)
