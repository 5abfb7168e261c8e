#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py                 # every workload
    python3 perfbench/selftest.py query_suite     # one workload

For each workload, at ``--size tiny``:
- the untraced run prints every end-to-end metric with its unit and a
  correct verdict, and the traced run every per-layer metric;
- ``--plant`` (one mutated expected value) makes the correctness check fail.
Once: ``BENCHMARK.json`` agrees with ``metrics.py``, and in a directory
holding only ``BENCHMARK.json`` and ``perfbench/`` the benchmark exits
non-zero without printing a result.
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

import metrics  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


class Failure(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise Failure(msg)


def bench(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def result(lines: list[str]) -> dict:
    check(bool(lines), "no output")
    r = json.loads(lines[-1])
    check(set(r) == RESULT_KEYS, f"result keys {sorted(r)}")
    check(isinstance(r["attempted"], int) and r["attempted"] >= 1, "attempted < 1")
    return r


def expect_metrics(r: dict, registry: dict) -> None:
    for name, spec in registry.items():
        check(name in r["metrics"], f"metric {name} missing")
        check(r["metrics"][name]["unit"] == spec[0], f"{name}: unit {r['metrics'][name]}")
        check(isinstance(r["metrics"][name]["value"], (int, float)), f"{name}: value")


def test_workload(workload: str) -> None:
    code, lines = bench(workload, "--trace", "0")
    r = result(lines)
    check(code == 0 and r["correct"] and r["failed"] == 0, f"untraced run: {lines[-2:]}")
    expect_metrics(r, metrics.END_TO_END)
    check(set(r["metrics"]) == set(metrics.END_TO_END), "extra end-to-end metrics")

    code, lines = bench(workload, "--trace", "1")
    r = result(lines)
    check(code == 0 and r["correct"], f"traced run: {lines[-2:]}")
    expect_metrics(r, metrics.PER_LAYER)

    code, lines = bench(workload, "--trace", "0", "--plant")
    r = result(lines)
    check(code == 0 and not r["correct"] and r["failed"] > 0,
          f"planted wrong answer not caught: {lines[-1]}")


def test_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]}
    check(e2e == metrics.END_TO_END, "BENCHMARK.json end_to_end differs from metrics.py")
    layer = {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}
    check(layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()},
          "BENCHMARK.json per_layer differs from metrics.py")


def test_without_program() -> None:
    tmp = tempfile.mkdtemp(prefix=".perfbench_selftest-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("ingest_cycle", cwd=tmp)
        check(code != 0, "exit code 0 without the program")
        check(not any(line.startswith("{") for line in lines), "printed a result")
    finally:
        shutil.rmtree(tmp)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [w["name"] for w in json.load(f)["workloads"]]
    tests = [("BENCHMARK.json", test_benchmark_json), ("no program", test_without_program)]
    tests += [(w, lambda w=w: test_workload(w))
              for w in (argv or listed)]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok    {name}", flush=True)
        except Failure as e:
            failed += 1
            print(f"FAIL  {name}: {e}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
