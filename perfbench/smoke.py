#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the benchmark's table scale
with tiny registers and short runs (about five minutes on 4 cores):

    python3 perfbench/smoke.py

It checks that

* the same seed gives byte-identical inputs;
* every end-to-end and per-layer metric of ``BENCHMARK.json`` is emitted
  with its unit, and no output check fails (``error_rate`` is 0);
* the deterministic Spark counters of ``batch_queries`` are identical in
  two processes;
* outside a full checkout the benchmark exits non-zero without a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.harness import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

DETERMINISTIC = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
                 "spark.build_jobs")


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "3", "--trace", str(trace), "--register-rows", "500"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(workload: str, trace: int) -> dict:
    proc = bench(workload, trace)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: m["unit"] for k, m in out["metrics"].items()}
    if got != want:
        sys.exit(f"{workload} trace={trace}: metrics/units {sorted(set(got.items()) ^ set(want.items()))}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        sys.exit(f"{workload} trace={trace}: {out['failed']} of {out['attempted']} ops failed:\n"
                 f"{proc.stderr[-3000:]}")
    return out["metrics"]


def same_inputs() -> None:
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        for d in (a, b):
            gen.make_tables(os.path.join(d, "tables"), 5, 0.001)
            regs = gen.make_registers(os.path.join(d, "registers"), 5, 500)
            for i, cycle in enumerate(gen.make_ops(5, regs, 3, 8)):
                gen.write_json_lines(os.path.join(d, f"ops-{i}.json"), cycle)
        cmp = filecmp.dircmp(a, b)
        stack, diffs = [cmp], []
        while stack:
            c = stack.pop()
            _, mismatch, errors = filecmp.cmpfiles(c.left, c.right, c.common_files, shallow=False)
            diffs += mismatch + errors + c.left_only + c.right_only
            stack += c.subdirs.values()
        if diffs:
            sys.exit(f"same seed, different inputs: {diffs}")


def fails_outside_checkout() -> None:
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = bench("batch_queries", 0, cwd=d)
        if proc.returncode == 0 or proc.stdout.strip():
            sys.exit("outside a checkout the benchmark must fail without a result")


def main() -> int:
    same_inputs()
    fails_outside_checkout()
    for workload in WORKLOADS:
        result(workload, 0)
    first = result("batch_queries", 1)
    second = result("batch_queries", 1)
    for k in DETERMINISTIC:
        if first[k]["value"] != second[k]["value"]:
            sys.exit(f"{k} differs between processes: {first[k]['value']} vs {second[k]['value']}")
    result("registry_ops", 1)
    print("perfbench smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
