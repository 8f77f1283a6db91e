"""Steady-state benchmark of the arrowhouse_spark package (see README.md)."""

import json
import os


def spec() -> dict:
    """BENCHMARK.json of the checkout the benchmark runs from (the current
    directory): the one list of workloads, metrics, units and bounds."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)
