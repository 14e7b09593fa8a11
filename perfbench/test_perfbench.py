"""Tests of the benchmark itself: each workload at a tiny size in both
modes, metric names against BENCHMARK.json, and a wrong expected value
failing the run.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "table_mix": {"fact_rows": 2_000, "batch_rows": 50,
                  "appends_per_round": 1, "reads_per_round": 1,
                  "merge_rows": 20, "warmup_rounds": 1, "ref_repeats": 1},
    "llm_dedup_pipeline": {"docs_per_batch": 100, "vectors": 200,
                           "queries_per_round": 1, "k": 5,
                           "warmup_rounds": 1, "ref_repeats": 1},
}


def _spec() -> dict:
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(capsys, workload: str, trace: int) -> tuple[int, dict]:
    code = run.main(["--workload", workload, "--seed", "7",
                     "--seconds", "0", "--trace", str(trace)])
    lines = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(lines[-1]) if lines else {}


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "SIZES", TINY)


def test_workloads_match_spec():
    assert sorted(workloads.WORKLOADS) == sorted(
        w["name"] for w in _spec()["workloads"])


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_spec_metrics(capsys, workload, trace):
    code, out = _run(capsys, workload, trace)
    assert code == 0
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    key = "per_layer" if trace else "end_to_end"
    spec = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == spec
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(run.REPO, ".perfbench_tmp"))


def test_wrong_exact_dedup_count_fails(capsys, monkeypatch):
    real = gen.corpus_batch

    def corrupted(*args, **kwargs):
        cb = real(*args, **kwargs)
        cb.n_unique += 1
        return cb

    monkeypatch.setattr(gen, "corpus_batch", corrupted)
    code, out = _run(capsys, "llm_dedup_pipeline", 0)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1


def test_wrong_scan_oracle_fails(capsys, monkeypatch):
    real = gen.FactModel.region_totals

    def corrupted(self):
        totals = real(self)
        r = min(totals)
        totals[r] = (totals[r][0] + 1, totals[r][1])
        return totals

    monkeypatch.setattr(gen.FactModel, "region_totals", corrupted)
    code, out = _run(capsys, "table_mix", 0)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1
