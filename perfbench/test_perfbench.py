"""Smoke tests of the benchmark itself, at a small scale.

Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

SMOKE = Workload("smoke_sf0.001", 0.001, ("priority_status_pivot", "jsonl_ingest_roundtrip"))


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_order_and_other_seed_another():
    queries = WORKLOADS["olap_ingest_sf0.01"].queries
    assert run.pass_order(queries, 7, 3) == run.pass_order(queries, 7, 3)
    assert run.pass_order(queries, 7, 3) != run.pass_order(queries, 8, 3)
    assert run.pass_order(queries, 7, 3) != run.pass_order(queries, 7, 4)
    assert sorted(run.pass_order(queries, 7, 3)) == sorted(queries)


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.generate(a, 0.001, 5)
    gen.generate(b, 0.001, 5)
    gen.generate(c, 0.001, 6)
    names = sorted(os.listdir(a))
    assert filecmp.cmpfiles(a, b, names, shallow=False)[0] == names
    assert filecmp.cmpfiles(a, c, names, shallow=False)[0] != names


def test_every_workload_query_has_an_oracle():
    from crz_scraper_spark.plans.registry import REGISTRY

    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries), w.name
        assert len(w.queries) % 2 == 1, f"{w.name}: an even query count puts the median between two queries"
        for q in w.queries:
            assert REGISTRY[q][1] is not None, f"{w.name}: {q} has no oracle"


def test_spec_names_the_workloads():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace_flag,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_printed_with_its_unit(monkeypatch, capsys, trace_flag, section):
    monkeypatch.setitem(run.WORKLOADS, SMOKE.name, SMOKE)
    # A seed of its own per run: the engine keeps once-per-process fixture
    # caches keyed by the input directory, which the seed names.
    seed = str(10 + trace_flag)
    argv = ["--workload", SMOKE.name, "--seed", seed, "--seconds", "0.5", "--trace", str(trace_flag)]
    assert run.main(argv) == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 4
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())


def test_wrong_expected_hash_is_a_failure(tmp_path):
    r = run.Run(SMOKE, 3, 0.5, False, str(tmp_path))
    try:
        r.setup()
        r.load_expected()
        good = r.execute("priority_status_pivot", 1, False)
        digest = r.expected["priority_status_pivot"]
        r.expected["priority_status_pivot"] = {**digest, "hash": "0" * 16}
        bad = r.execute("priority_status_pivot", 2, False)
    finally:
        r.stop_spark()
    assert good["ok"] and not bad["ok"]
    assert (r.attempted, r.failed) == (2, 1)
    assert "expected" in r.errors[-1]
