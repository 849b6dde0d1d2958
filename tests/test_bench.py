"""``bench.py`` without Spark: perfbench's subprocess and the per-query
timer are fakes.  The bench runs perfbench exactly twice, whatever the
scaling efficiency reads, prints one line with the round's keys, and
exits non-zero when a perfbench run fails or an action disagrees with
its answer."""

from __future__ import annotations

import json
import subprocess

import pytest

import bench


def _fake_perfbench(calls: list, eff: float, correct: bool = True,
                    code: int = 0):
    def run(cmd, **kwargs):
        trace = int(cmd[cmd.index("--trace") + 1])
        calls.append(trace)
        info = {"rows_per_s": 25000.0}
        if trace:
            info["scaling"] = {"pair": [1, 2], "lo_s": 4.0, "hi_s": 2.0,
                               "eff": eff}
        result = {"correct": correct, "attempted": 5,
                  "failed": 0 if correct else 1, "metrics": {}}
        stdout = f"{json.dumps({'info': info})}\n{json.dumps(result)}\n"
        return subprocess.CompletedProcess(cmd, code, stdout, "")
    return run


@pytest.fixture
def timer(monkeypatch):
    monkeypatch.setattr(
        bench, "time_queries",
        lambda results: results.update(leaf_assign=0.5,
                                       spatial_pipeline_sf_sec=2.0))


@pytest.mark.parametrize("eff", [0.3, 0.95])
def test_perfbench_runs_twice_whatever_eff_reads(monkeypatch, capsys,
                                                  timer, eff):
    calls = []
    monkeypatch.setattr(subprocess, "run", _fake_perfbench(calls, eff))
    bench.main()
    assert calls == [0, 1]
    line = json.loads(capsys.readouterr().out.strip())
    assert set(line) == {"metric", "value", "unit", "queries", "sf"}
    assert line["value"] == 25000.0
    assert line["queries"] == {
        "headline_docs_per_sec": 25000.0, "scaling_pair": [1, 2],
        "scaling_local1_sec": 4.0, "scaling_local2_sec": 2.0,
        "scaling_efficiency": eff,
        "leaf_assign": 0.5, "spatial_pipeline_sf_sec": 2.0,
    }


@pytest.mark.parametrize("correct,code", [(False, 0), (True, 1)])
def test_failed_perfbench_run_fails_the_bench(monkeypatch, capsys, timer,
                                              correct, code):
    monkeypatch.setattr(subprocess, "run",
                        _fake_perfbench([], 0.9, correct, code))
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (0, None)
    assert capsys.readouterr().out == ""
