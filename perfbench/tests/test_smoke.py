"""Every workload, untraced and traced, at the smoke scale: the run exits 0,
every output passes its check, and the last line carries exactly the
metrics BENCHMARK.json names, with their units."""

import json
import os

import pytest

import run
from conftest import CHECKOUT

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_run(workload, trace, capsys):
    argv = ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
            "--scale", "smoke"]
    assert run.main(argv) == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True
    assert last["failed"] == 0 and last["attempted"] >= 1
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())


def test_unknown_workload_is_refused():
    assert run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"]) == 2
