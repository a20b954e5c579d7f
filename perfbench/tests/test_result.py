"""The result line holds exactly the metrics ``BENCHMARK.json`` names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import w_corpus_dedup  # noqa: E402
import w_record_ingest  # noqa: E402
from common import Outcome  # noqa: E402

WORKLOADS = {"record_ingest": w_record_ingest, "corpus_dedup": w_corpus_dedup}


def test_manifest_names_the_workloads_run_knows():
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    assert sorted(names) == sorted(run.WORKLOADS) == sorted(WORKLOADS)


def test_every_per_layer_metric_has_a_workload_that_calls_its_layer():
    layers = {n.split(".", 1)[0] for n in run.manifest_metrics(trace=True)}
    called = set().union(*(m.LAYERS for m in WORKLOADS.values()))
    assert layers == called


def test_uncalled_layers_read_zero_and_called_ones_are_left_to_the_workload():
    wanted = {"session.start_s": "s", "stream.drain_s": "s", "query.q.jobs": "count"}
    out = Outcome()
    out.zero_uncalled_layers(wanted, ("session", "stream"))
    assert out.metrics == {"query.q.jobs": {"value": 0.0, "unit": "count"}}


def test_require_refuses_a_missing_an_extra_or_a_mislabelled_metric():
    wanted = {"setup_s": "s", "round_s": "s"}
    good = Outcome()
    good.metric("setup_s", 1.5, "s")
    good.metric("round_s", 2.5, "s")
    good.require(wanted)
    for broken in (
        {"setup_s": "s"},
        {"setup_s": "s", "round_s": "s", "ingest_rows_per_s": "rows/s"},
        {"setup_s": "s", "round_s": "ms"},
    ):
        out = Outcome()
        for name, unit in broken.items():
            out.metric(name, 1.0, unit)
        with pytest.raises(RuntimeError):
            out.require(wanted)
