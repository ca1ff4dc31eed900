"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Checks, each through the real command line:

1. ``BENCHMARK.json`` names exactly the workloads and metrics of
   ``metrics.py``, with the same units and directions;
2. a clean ``daily_ingest`` run (one replica, one day) prints every
   end-to-end metric with its unit and exits 0;
3. a traced ``corpus_index`` run on a 100-document corpus with one output
   deliberately corrupted prints every per-layer metric with its unit,
   counts the corruption in ``failed`` and ``failed_ratio``, and exits
   non-zero;
4. a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes
   the command exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _run(workload, trace, env_extra, cwd=ROOT):
    env = dict(os.environ, PERFBENCH_TINY="1", **env_extra)
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc


def _expect_metrics(result, registry) -> None:
    want = {m.name: m.unit for m in registry}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metric names/units differ: {set(got) ^ set(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, registry in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        assert got == [(m.name, m.unit, m.better) for m in registry], key
    assert {m["name"]: m["bound"] for m in spec["end_to_end"]} == {
        m.name: m.bound for m in END_TO_END
    }


def check_clean_run() -> None:
    code, result, proc = _run("daily_ingest", 0, {})
    assert code == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0
    _expect_metrics(result, END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def check_corruption_counted() -> None:
    code, result, proc = _run("corpus_index", 1, {"PERFBENCH_CORRUPT": "1"})
    assert code != 0, "a corrupted output must fail the run"
    assert result is not None, proc.stderr[-3000:]
    assert not result["correct"] and result["failed"] >= 1
    _expect_metrics(result, PER_LAYER)
    ratio = result["metrics"]["failed_ratio"]["value"]
    assert ratio == result["failed"] / result["attempted"] > 0


def check_bare_directory_fails() -> None:
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, result, _ = _run("daily_ingest", 0, {}, cwd=bare)
        assert code != 0 and result is None


def main() -> int:
    for check in (check_benchmark_json, check_bare_directory_fails,
                  check_clean_run, check_corruption_counted):
        check()
        print(f"ok  {check.__name__}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
