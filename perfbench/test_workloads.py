"""The workloads partition the query registry, and BENCHMARK.json matches
the benchmark's code.

Run with ``python -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import collections
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from steam_data_engineer_project_spark.queries import QUERIES  # noqa: E402


def test_every_query_is_in_exactly_one_workload():
    seen = collections.Counter(
        q for w in WORKLOADS.values() for q in w.queries + w.left_out
    )
    missing = sorted(set(QUERIES) - set(seen))
    repeated = sorted(q for q, n in seen.items() if n > 1)
    unknown = sorted(set(seen) - set(QUERIES))
    assert not missing, f"queries in no workload: {missing}"
    assert not repeated, f"queries in more than one workload: {repeated}"
    assert not unknown, f"workload names no registry query: {unknown}"


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
