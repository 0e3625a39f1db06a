"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest sketchbench/test_smoke.py -q      # from the repo root

Runs every workload untraced and traced with ``--size smoke`` (100k keys,
2k token rows, the catalog gates on the sf0.001 documents table), checks
that each metric BENCHMARK.json names is printed with its unit, that a wrong
expected answer counts as a failed operation, and that the benchmark fails
without printing a result when the program is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, workload, trace):
    # a Spark session started in this process exports PYTHONPATH; the
    # benchmark must find the program through its own checkout only
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_with_unit(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, out.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    printed = result["metrics"]
    for m in declared:
        assert m["name"] in printed, m["name"]
        assert printed[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(printed[m["name"]]["value"], float)
    if trace:
        assert "# spans written to " in out.stdout
        assert "# tracing overhead " in out.stdout


def test_wrong_expected_answer_counts_as_failed(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.syspath_prepend(HERE)
    import run
    from spans import NullTracer
    from workloads import SIZES, KeysBloom

    run.configure_box(str(tmp_path / ".bench_tmp"))
    wl = KeysBloom(seed=3, size=SIZES["smoke"]["keys_bloom"])
    r = run.Run(wl, NullTracer())
    try:
        r.setup()
        wl.prepare_expected()
        r.cycle(NullTracer())
        assert (r.attempted, r.failed) == (4, 0)
        wl.expected["members"] += 1  # deliberately wrong expected answer
        r.cycle(NullTracer())
        assert (r.attempted, r.failed) == (8, 1)
    finally:
        r.shutdown()


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    last = out.stdout.strip().splitlines()[-1:] or [""]
    assert not last[0].startswith("{"), out.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
