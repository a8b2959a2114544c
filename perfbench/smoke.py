"""Smoke test of the benchmark at tiny size (1,000 pages; sf0.001 tables).

Runs every workload once untraced and once traced, and asserts that each
metric named in BENCHMARK.json is printed with its unit and that no
operation failed (error rate 0). Then checks that the benchmark refuses to
run, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files.

    python3 perfbench/smoke.py        # from the repository root, ~6 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = _run(ROOT, w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{tag}: attempted {result['attempted']} failed {result['failed']}")
            got = result["metrics"]
            if set(got) != {m["name"] for m in wanted}:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in wanted})}")
            for m in wanted:
                v = got.get(m["name"])
                if v is None or v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
                    problems.append(f"{tag}: {m['name']} printed as {v}, unit {m['unit']}")
            if trace and got.get("error_rate", {}).get("value") != 0:
                problems.append(f"{tag}: error_rate {got.get('error_rate')}")
            print(f"ok  {tag}", file=sys.stderr)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        proc = _run(bare, spec["workloads"][0]["name"], 0)
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            problems.append("bare directory: the benchmark ran or printed a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
