"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/smoke.py

Run from the repository root. For every workload in BENCHMARK.json it runs
one untraced and one traced run at ``--size tiny`` and checks the result
line: exactly the keys correct/attempted/failed/metrics, a correct run, and exactly the metrics
BENCHMARK.json lists. It also checks that a run leaves no
``CORRECTNESS_r*.json`` in the root (the catalog's query order reads those
at import time), and that the benchmark fails without printing a result in
a directory that holds only BENCHMARK.json and the benchmark itself.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    records_before = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = _run(ROOT, w["name"], trace)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{w['name']} trace={trace}: no result line "
                                f"(exit {p.returncode})\n{p.stderr[-3000:]}")
                continue
            wanted = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            if p.returncode != 0:
                problems.append(f"{w['name']} trace={trace}: exit {p.returncode}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w['name']} trace={trace}: keys {sorted(res)}")
            if not (res.get("correct") and res.get("attempted", 0) >= 1 and res.get("failed") == 0):
                problems.append(f"{w['name']} trace={trace}: {res} "
                                f"{[line for line in lines if line.startswith('FAILED')]}")
            if set(res.get("metrics", {})) != wanted:
                problems.append(f"{w['name']} trace={trace}: metrics "
                                f"{sorted(set(res.get('metrics', {})) ^ wanted)} differ")
            print(f"ok? {w['name']} trace={trace}: {lines[-1][:160]}", flush=True)
    if sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))) != records_before:
        problems.append("a run wrote a CORRECTNESS_r*.json into the root")

    # without the program, the benchmark must fail and print no result
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, spec["workloads"][0]["name"], 0)
        if p.returncode == 0 or '"metrics"' in p.stdout:
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass

    for line in problems:
        print("PROBLEM", line)
    print("smoke:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
