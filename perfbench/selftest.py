"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced, and
checks each result line: every metric of BENCHMARK.json with its unit, all
outputs correct.  Then runs the benchmark in a directory holding only
BENCHMARK.json and the benchmark's files, where it must fail without
printing a result.  Exits non-zero on the first mismatch; takes about
four minutes on four cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


def _check_result(lines: list[str], spec: dict, trace: int, label: str) -> None:
    if not lines:
        raise SystemExit(f"{label}: no output")
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{label}: result keys {sorted(out)}")
    if out["correct"] is not True or out["failed"] != 0 or out["attempted"] < 1:
        raise SystemExit(f"{label}: not correct: {lines[-1][:300]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise SystemExit(f"{label}: metrics differ: {sorted(set(got) ^ set(want))}")
    for k, v in out["metrics"].items():
        if not math.isfinite(v["value"]) or (not trace and v["value"] <= 0):
            raise SystemExit(f"{label}: {k} = {v['value']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            label = f"{w['name']} --trace {trace}"
            code, lines = _run(ROOT, w["name"], trace)
            if code != 0:
                raise SystemExit(f"{label}: exit code {code}")
            _check_result(lines, spec, trace, label)
            print(f"ok  {label}", flush=True)
    bare = os.path.join(ROOT, ".bench_build", "p4s", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _run(bare, spec["workloads"][0]["name"], 0)
        if code == 0 or any(line.startswith("{") for line in lines):
            raise SystemExit("without the program the benchmark must fail and print no result")
        print("ok  fails without the program", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
