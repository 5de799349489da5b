"""A run prints its JSON result only when every iteration was exact."""

import json
from types import SimpleNamespace

import run


def _report(check_ok: bool, failed: int) -> dict:
    check = {"ok": check_ok, "tp": 999, "got": 1000, "expected": 1000, "rows_out": {}}
    runner = SimpleNamespace(checks=[check], attempted=3, failed=failed)
    return {"runner": runner, "input": {}, "input_rows": 1000, "input_unit": "docs",
            "session_start_s": 1.0, "gen_s": 0.1, "warmup_s": [2.0, 1.5],
            "oracle_s": 0.2, "setup_s": 3.6, "times": [1.25]}


ARGS = SimpleNamespace(workload="web_pipeline", seed=1, trace=0)


def test_exact_run_prints_result(capsys):
    assert run.emit(ARGS, _report(True, 0)) == 0
    result = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert {m for m, _u in run.END_TO_END} == set(result["metrics"])


def test_wrong_output_fails_run_without_result(capsys):
    # 99.9 % of the rows right is still a failed run
    assert run.emit(ARGS, _report(False, 1)) == 1
    for line in capsys.readouterr().out.splitlines():
        assert not line.startswith("{")
