"""Smoke self-test of the benchmark, at sf0.001-sized inputs.

    python3 perfbench/selftest.py

For every workload it checks that:

- an untraced run exits 0 and its last stdout line carries exactly the
  end-to-end metrics, each with its unit and a non-zero value, with no
  failed call (error_rate 0);
- a traced run carries exactly the per-layer metrics with their units;
- a run whose outputs are corrupted before the check (``--corrupt``:
  one result row or one wire chunk dropped) reports failures, so the
  checker is not vacuous.

It also checks that the benchmark, copied without the package it
measures, exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.host import WORK  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--seed", "7", "--seconds", "1", "--scale", "smoke", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, proc.stdout.strip().splitlines()


def result_of(lines: list[str]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    assert isinstance(result["failed"], int), result
    return result


def check_metrics(result: dict, names: dict[str, str], nonzero: bool) -> None:
    metrics = result["metrics"]
    assert set(metrics) == set(names), sorted(set(metrics) ^ set(names))
    for k, unit in names.items():
        m = metrics[k]
        assert set(m) == {"value", "unit"} and m["unit"] == unit, (k, m)
        assert isinstance(m["value"], (int, float)), (k, m)
        assert not nonzero or m["value"] > 0, (k, m)


def check_manifest() -> None:
    """BENCHMARK.json names exactly what its workloads print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    e2e = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in manifest["per_layer"]}
    for w in manifest["workloads"]:
        kind = workloads.WORKLOADS[w["name"]]
        assert e2e == {**run.COMMON_E2E, **kind.e2e_units}, w
        assert layers == {**kind.layer_units, **run.COMMON_LAYERS}, w
    print("ok  BENCHMARK.json matches the workloads' metrics", flush=True)


def main() -> int:
    check_manifest()
    for w, kind in workloads.WORKLOADS.items():
        rc, out = bench("--workload", w, "--trace", "0")
        assert rc == 0, f"{w}: exit {rc}"
        res = result_of(out)
        assert res["correct"] and res["failed"] == 0, (w, res)
        check_metrics(res, {**run.COMMON_E2E, **kind.e2e_units}, nonzero=True)
        print(f"ok  {w}: end-to-end metrics, error_rate 0", flush=True)

        rc, out = bench("--workload", w, "--trace", "0", "--corrupt")
        assert rc == 0, f"{w} --corrupt: exit {rc}"
        res = result_of(out)
        assert not res["correct"] and res["failed"] == res["attempted"], (w, res)
        print(f"ok  {w}: corrupted output reported as {res['failed']} failed", flush=True)

        rc, out = bench("--workload", w, "--trace", "1")
        assert rc == 0, f"{w} --trace 1: exit {rc}"
        res = result_of(out)
        assert res["correct"], (w, res)
        check_metrics(res, {**kind.layer_units, **run.COMMON_LAYERS}, nonzero=False)
        assert res["metrics"]["workload.trace_overhead_ratio"]["value"] > 0, res
        print(f"ok  {w}: per-layer metrics", flush=True)

    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, out = bench("--workload", "batch_fanout", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not out, (rc, out)
    print("ok  without the package: exit", rc, "and no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
