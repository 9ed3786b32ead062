"""Self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py`` at the tiny size
untraced and traced, and asserts that the run passes its checks and that the
last line carries every metric the spec names for that mode, with its unit.
It then runs each workload against a deliberately corrupted expected result
and asserts that the checks fail it, so no check is vacuous. Last, it runs
the benchmark in a directory holding only ``BENCHMARK.json`` and the
benchmark's files, where it must exit non-zero without printing a result.
Exits non-zero if any assertion fails. Takes a few minutes: each run starts
its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int, corrupt: bool = False):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def check_metrics(result, wanted: list[dict]) -> list[str]:
    problems = []
    if set(result) != RESULT_KEYS:
        problems.append(f"result keys {sorted(result)}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        problems.append("attempted is not a positive integer")
    for m in wanted:
        got = result.get("metrics", {}).get(m["name"])
        if got is None:
            problems.append(f"metric {m['name']} missing")
        elif got.get("unit") != m["unit"]:
            problems.append(f"metric {m['name']} has unit {got.get('unit')}")
        elif not (isinstance(got.get("value"), (int, float))
                  and math.isfinite(got["value"])):
            problems.append(f"metric {m['name']} value {got.get('value')!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(ROOT, w, trace)
            if code != 0 or res is None or res.get("correct") is not True:
                failures.append(f"{w} trace={trace}: exit {code}, result {res}")
                continue
            failures += [f"{w} trace={trace}: {p}"
                         for p in check_metrics(res, spec[key])]
        code, res = run(ROOT, w, 0, corrupt=True)
        if code == 0 or res is None or res.get("correct") is not False \
                or res.get("failed", 0) < 1:
            failures.append(f"{w}: a corrupted expected result was not caught "
                            f"(exit {code}, result {res})")
        print(f"selftest: {w} done", file=sys.stderr)

    bare = os.path.join(ROOT, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        failures.append(f"without the program: exit {code}, result {res}")

    for f in failures:
        print("FAIL", f)
    print("selftest:", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
